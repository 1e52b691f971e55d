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
