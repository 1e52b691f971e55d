package graft.plans

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.snapshot.BucketedPages
import graft.synth.SiteGen

/** The epoch chain's job budget and the scope of what a run holds. A small
  * epoch is bound by per-job latency, not by rows, so the number of Spark
  * jobs an epoch launches is a performance contract of its own; the engine
  * turns AQE off only for the duration of `run()`; and a run that throws
  * leaves no job running and no cache behind.
  */
class EpochJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val domain = "example.com"
  private val aqe = "spark.sql.adaptive.enabled"

  /** Jobs started while `body` runs, counted by a listener between two
    * marker jobs, and those of them still running when the end marker was
    * submitted: the end marker's start event proves every earlier job start
    * and end has been delivered.
    */
  private def jobsDuring[T](body: => T): (T, Int, Set[Int]) = {
    // (job id, start or end, description), in delivery order
    val events = new ConcurrentLinkedQueue[(Int, Boolean, String)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        events.add((js.jobId, true, Option(js.properties)
          .map(_.getProperty("spark.job.description")).orNull))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        events.add((je.jobId, false, null))
    }
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def markerId(name: String): Option[Int] =
      events.asScala.collectFirst { case (id, true, `name`) => id }
    sc.addSparkListener(listener)
    try {
      marker("jobs-before")
      val out = body
      marker("jobs-after")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (markerId("jobs-after").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      val (from, until) = (markerId("jobs-before").get, markerId("jobs-after").get)
      val delivered = events.asScala.toSeq
      val during = delivered.collect { case (id, true, _) if id > from && id < until => id }
      val endedFirst = delivered.takeWhile(_._1 != until).collect { case (id, false, _) => id }
      (out, during.size, during.toSet -- endedFirst)
    } finally sc.removeSparkListener(listener)
  }

  test("job budget: a bucketed robots epoch with budget, suppressed store " +
    "and an active sketch launches at most 6 jobs") {
    val pages = SiteGen.pages(spark, domain, nPages = 400, hosts = 4,
      outDegree = 8, numPartitions = 4,
      robotsBody = Some("User-agent: *\nDisallow: /p/1\nCrawl-delay: 11\n"))
    val bp = BucketedPages.adopt(spark, pages,
      Files.createTempDirectory("graft-jobs-pages-").toString + "/pages", numBuckets = 16)
    val epochs = 4
    // every step runs each epoch: the budget window, the robots gate and the
    // suppressed store probe + writes, the sketch (active from epoch 0) and
    // the bucket-pruned fetch join
    val cfg = CrawlConfig(domain, budget = Some(7), numPartitions = 4,
      depthPriority = true, bloomMinSeen = 1, maxEpochs = epochs)
    val wh = Files.createTempDirectory("graft-jobs-wh-").toString
    val (result, jobs, _) = jobsDuring(
      new CrawlEngine(spark, cfg).run(bp, s"https://$domain", wh))
    assert(result.epochs == epochs)
    val store = new graft.snapshot.SnapshotStore(spark, wh)
    val ms = (0 until epochs).map(e => store.snapshotAt(e).get.metrics)
    assert(ms.forall(m => m("fetched") > 0 && m("sketch_capacity") > 0), ms)
    assert(ms.exists(_("deferred") > 0) && ms.exists(_("new_suppressed") > 0), ms)
    // the run prologue on a fresh warehouse: the robots rules collect, four
    // bootstrap writes and the frontier count. An epoch: the visited write
    // (the seen-store delta rides it), the fetch keys broadcast, the links
    // write, the sketch merge, the suppressed write (with its store delta)
    // and the frontier write (which observes the candidates count)
    val prologue = 6
    val perEpoch = 6
    assert(jobs <= perEpoch * epochs + prologue,
      s"$jobs jobs for $epochs epochs (budget $perEpoch/epoch + $prologue)")
  }

  test("the run prologue over a plain robots-free source: five jobs on a " +
    "fresh warehouse, one on resume") {
    val pages = SiteGen.pages(spark, domain, nPages = 40, hosts = 2,
      outDegree = 4, numPartitions = 4)
    val cfg = CrawlConfig(domain, numPartitions = 4, maxEpochs = 0)
    val wh = Files.createTempDirectory("graft-prologue-").toString
    def run() = jobsDuring(new CrawlEngine(spark, cfg).run(pages, s"https://$domain", wh))
    // fresh: the url-only robots probe and the four bootstrap writes; the
    // frontier's size comes from the bootstrap write's manifest, not a count
    val (fresh, freshJobs, _) = run()
    assert(fresh.epochs == 0 && fresh.lastSnapshot.epoch == -1)
    assert(freshJobs == 5, s"$freshJobs jobs in a fresh prologue")
    // resume: the robots probe alone (the stores need no rebuild)
    val (resumed, resumeJobs, _) = run()
    assert(resumed.epochs == 0 && resumed.lastSnapshot.epoch == -1)
    assert(resumeJobs == 1, s"$resumeJobs jobs in a resumed prologue")
  }

  test("a committed epoch's manifest carries exactly the pinned metric keys, " +
    "on the bucket-local robots path and on the anti path") {
    // graftbench's per-layer metrics read these keys by name: one that
    // disappears must fail here, not read 0 there
    val counts = Set("urls_in", "fetched", "deferred", "new_links", "new_suppressed",
      "candidates_in", "next_frontier", "pages_hit", "bytes_html", "links_out",
      "parse_errors", "wall_ms")
    val state = Set("sketch_capacity", "sketch_bytes", "seen_bucketlocal",
      "links_base_rows", "links_compacted", "seen_compacted")
    val laps = Set("visited_write_launch", "bucket_prune", "links_write_launch",
      "gate_build", "suppressed_write_launch", "sketch_merge_wait", "frontier_write",
      "visited_wait", "links_wait", "suppressed_wait").map("ms_" + _)
    val base = counts ++ state ++ laps
    val pageFiles = Set("pages_files_read", "pages_files_total")
    val pages = SiteGen.pages(spark, domain, nPages = 200, hosts = 4,
      outDegree = 8, numPartitions = 4,
      robotsBody = Some("User-agent: *\nDisallow: /p/1\n"))
    // every epoch from 1 on compacts links and (on the store path) the
    // seen shards, so their laps are pinned too
    val cfg = CrawlConfig(domain, budget = Some(7), numPartitions = 4,
      bloomMinSeen = 1, seenCompactEvery = 1, linksCompactFactor = 1.0,
      linksCompactMinRows = 0L, maxEpochs = 2)
    def keys(wh: String): Seq[Set[String]] = {
      val store = new graft.snapshot.SnapshotStore(spark, wh)
      (0 until 2).map(e => store.snapshotAt(e).get.metrics.keySet)
    }
    val bucketLocal = Files.createTempDirectory("graft-keys-bl-").toString
    val bp = BucketedPages.adopt(spark, pages, s"$bucketLocal-pages", numBuckets = 8)
    assert(new CrawlEngine(spark, cfg).run(bp, s"https://$domain", bucketLocal).epochs == 2)
    assert(keys(bucketLocal) == Seq(base ++ pageFiles,
      base ++ pageFiles + "ms_links_compact" + "ms_seen_compact"))
    val anti = Files.createTempDirectory("graft-keys-anti-").toString
    assert(new CrawlEngine(spark, cfg.copy(seenDedup = "anti"))
      .run(pages, s"https://$domain", anti).epochs == 2)
    assert(keys(anti) == Seq(base, base + "ms_links_compact"))
  }

  // a run that throws also leaves no job running and no cache behind
  test("the caller's AQE setting is restored after a run, and after a run " +
    "that throws") {
    val pages = SiteGen.pages(spark, domain, nPages = 40, hosts = 2,
      outDegree = 4, numPartitions = 4)
    val boom = udf { (_: Array[Byte]) =>
      if (true) throw new IllegalStateException("boom")
      Array.emptyByteArray
    }
    // the first fails while the epoch plans its links cache (the optimizer
    // folds the udf into the local rows), with the epoch's writes running;
    // the shuffle keeps the second from folding, so it fails in a task with
    // the epoch's caches registered
    val failing = Seq(pages, pages.repartition(2)).map(_.withColumn("html", boom(col("html"))))
    val cfg = CrawlConfig(domain, numPartitions = 4, maxEpochs = 2)
    def crawl(p: org.apache.spark.sql.DataFrame) = new CrawlEngine(spark, cfg)
      .run(p, s"https://$domain", Files.createTempDirectory("graft-aqe-").toString)
    val original = spark.conf.getAll.get(aqe)
    try {
      for (setting <- Seq(Some("true"), Some("false"), None)) {
        setting.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
        assert(crawl(pages).epochs == 2)
        assert(spark.conf.getAll.get(aqe) == setting, s"after a run, set $setting")
        for (f <- failing) {
          val cachedBefore = CacheBridge.cachedEntries(spark)
          val (failure, _, running) = jobsDuring(intercept[Exception](crawl(f)))
          assert(failure.toString.contains("boom"))
          assert(spark.conf.getAll.get(aqe) == setting, s"after a failed run, set $setting")
          assert(running.isEmpty, s"jobs $running of a failed run still running")
          assert(CacheBridge.cachedEntries(spark) == cachedBefore, "caches left by a failed run")
        }
      }
    } finally original.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }
}
