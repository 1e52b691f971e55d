package graft.plans

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.snapshot.BucketedPages
import graft.synth.SiteGen

/** The epoch chain's job budget and the scope of its AQE switch. A small
  * epoch is bound by per-job latency, not by rows, so the number of Spark
  * jobs an epoch launches is a performance contract of its own; and the
  * engine turns AQE off only for the duration of `run()`.
  */
class EpochJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val domain = "example.com"
  private val aqe = "spark.sql.adaptive.enabled"

  /** Jobs started while `body` runs, counted by a listener between two
    * marker jobs: the end marker's start event proves every earlier job
    * start has been delivered.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val starts = new ConcurrentLinkedQueue[(Int, String)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.add((js.jobId, Option(js.properties)
          .map(_.getProperty("spark.job.description")).orNull))
    }
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def markerId(name: String): Option[Int] =
      starts.asScala.collectFirst { case (id, `name`) => id }
    sc.addSparkListener(listener)
    try {
      marker("jobs-before")
      val out = body
      marker("jobs-after")
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (markerId("jobs-after").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      val (from, until) = (markerId("jobs-before").get, markerId("jobs-after").get)
      (out, starts.asScala.count { case (id, _) => id > from && id < until })
    } finally sc.removeSparkListener(listener)
  }

  test("job budget: a bucketed robots epoch with budget, suppressed store " +
    "and an active sketch launches at most 12 jobs") {
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
    val (result, jobs) = jobsDuring(
      new CrawlEngine(spark, cfg).run(bp, s"https://$domain", wh))
    assert(result.epochs == epochs)
    val store = new graft.snapshot.SnapshotStore(spark, wh)
    val ms = (0 until epochs).map(e => store.snapshotAt(e).get.metrics)
    assert(ms.forall(m => m("fetched") > 0 && m("sketch_capacity") > 0), ms)
    assert(ms.exists(_("deferred") > 0) && ms.exists(_("new_suppressed") > 0), ms)
    // the run prologue on a fresh warehouse: the pages schema read, the
    // robots cache, the crawl-delay budgets, the seed-host broadcast and
    // rules collect, four bootstrap writes and the frontier count
    val prologue = 10
    val perEpoch = 12
    assert(jobs <= perEpoch * epochs + prologue,
      s"$jobs jobs for $epochs epochs (budget $perEpoch/epoch + $prologue)")
  }

  test("the caller's AQE setting is restored after a run, and after a run " +
    "that throws") {
    val pages = SiteGen.pages(spark, domain, nPages = 40, hosts = 2,
      outDegree = 4, numPartitions = 4)
    val boom = udf { (_: Array[Byte]) =>
      if (true) throw new IllegalStateException("boom")
      Array.emptyByteArray
    }
    val failing = pages.withColumn("html", boom(col("html")))
    val cfg = CrawlConfig(domain, numPartitions = 4, maxEpochs = 2)
    def crawl(p: org.apache.spark.sql.DataFrame) = new CrawlEngine(spark, cfg)
      .run(p, s"https://$domain", Files.createTempDirectory("graft-aqe-").toString)
    val original = spark.conf.getAll.get(aqe)
    try {
      for (setting <- Seq(Some("true"), Some("false"), None)) {
        setting.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
        assert(crawl(pages).epochs == 2)
        assert(spark.conf.getAll.get(aqe) == setting, s"after a run, set $setting")
        assert(intercept[Exception](crawl(failing)).toString.contains("boom"))
        assert(spark.conf.getAll.get(aqe) == setting, s"after a failed run, set $setting")
      }
    } finally original.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }
}
