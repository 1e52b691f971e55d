package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Web-scale robots handling: the gate must work with NO broadcast and NO
  * full-table driver collect (10^8-host regime, ADVICE/VERDICT r1), and
  * http/https robots.txt duplicates must collapse to one row per host.
  */
class RobotsScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val ts = new java.sql.Timestamp(1700000000000L)
  private def page(url: String, html: String): (String, java.sql.Timestamp, Array[Byte], String, String) = {
    val b = html.getBytes("UTF-8")
    (url, ts, b, graft.html.HtmlExtract.extractText(b), "en")
  }

  test("10^4-host robots table gates via shuffled join (broadcast forced off)") {
    val nHosts = 10000
    val robotsBody = "User-agent: *\nDisallow: /private/\n"
    val tsMs = 1700000000000L
    val robotsRows = spark.range(0, nHosts, 1, 8).map { h =>
      (s"https://h$h.example.com/robots.txt", new java.sql.Timestamp(tsMs),
        robotsBody.getBytes("UTF-8"), robotsBody, "en")
    }
    val content = Seq(
      page("https://example.com",
        """<a href="https://h1.example.com/private/x">p</a>
          |<a href="https://h1.example.com/pub">a</a>
          |<a href="https://h2.example.com/pub">b</a>""".stripMargin),
      page("https://h1.example.com/pub", "<p>ok</p>"),
      page("https://h2.example.com/pub", "<p>ok</p>"),
      page("https://h1.example.com/private/x", "<p>never fetched</p>")).toDS()
    val pages = robotsRows.union(content)
      .toDF("url", "warc_ts", "html", "text", "lang")

    val wh = Files.createTempDirectory("graft-robots10k-").toString
    val r = new CrawlEngine(spark, CrawlConfig("example.com", numPartitions = 4,
      broadcastMaxRows = 0L)) // force the shuffled fallback
      .run(pages, "https://example.com", wh)
    val visited = r.visited.select("url").as[String].collect().toSet
    assert(visited == Set("https://example.com",
      "https://h1.example.com/pub", "https://h2.example.com/pub"))
  }

  test("10^4-host crawl-delay budgets apply via the shuffled join (broadcast forced off)") {
    // every hN host declares Crawl-delay: 60 → 1 fetch/epoch/host; with
    // broadcastMaxRows=0 the per-host delay budgets flow through the
    // SHUFFLED host join, the 10^8-host regime's path
    val nHosts = 10000
    val robotsBody = "User-agent: *\nCrawl-delay: 60\n"
    val tsMs = 1700000000000L
    val robotsRows = spark.range(0, nHosts, 1, 8).map { h =>
      (s"https://h$h.example.com/robots.txt", new java.sql.Timestamp(tsMs),
        robotsBody.getBytes("UTF-8"), robotsBody, "en")
    }
    val content = Seq(
      page("https://example.com",
        """<a href="https://h1.example.com/a">a</a>
          |<a href="https://h1.example.com/b">b</a>
          |<a href="https://h1.example.com/c">c</a>""".stripMargin),
      page("https://h1.example.com/a", "<p>x</p>"),
      page("https://h1.example.com/b", "<p>x</p>"),
      page("https://h1.example.com/c", "<p>x</p>")).toDS()
    val pages = robotsRows.union(content)
      .toDF("url", "warc_ts", "html", "text", "lang")

    val wh = Files.createTempDirectory("graft-delay10k-").toString
    val r = new CrawlEngine(spark, CrawlConfig("example.com", numPartitions = 4,
      broadcastMaxRows = 0L)) // force the shuffled fallback
      .run(pages, "https://example.com", wh)
    val trace = r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq
    // h1 drains ONE url per epoch under its 60s delay (no configured budget)
    assert(trace == Seq(
      (0, "https://example.com"),
      (1, "https://h1.example.com/a"),
      (2, "https://h1.example.com/b"),
      (3, "https://h1.example.com/c")), trace.toString)
  }

  test("http+https robots.txt for one host: one row, https body wins") {
    val pages = Seq(
      page("http://h1.example.com/robots.txt", "User-agent: *\nAllow: /x\n"),
      page("https://h1.example.com/robots.txt", "User-agent: *\nDisallow: /x\n"),
      page("https://example.com", """<a href="https://h1.example.com/x1">x</a>
        |<a href="https://h1.example.com/y">y</a>""".stripMargin),
      page("https://h1.example.com/y", "<p>ok</p>"))
      .toDF("url", "warc_ts", "html", "text", "lang")

    val engine = new CrawlEngine(spark, CrawlConfig("example.com", numPartitions = 4))
    val rt = engine.robotsTable(pages)
    assert(rt.count() == 1)
    assert(rt.filter(rt("host") === "h1.example.com").count() == 1)

    val wh = Files.createTempDirectory("graft-robotsdup-").toString
    val r = engine.run(pages, "https://example.com", wh)
    val visited = r.visited.select("url").as[String].collect().toSeq
    // /x1 suppressed by the winning https body; exactly one visit per url
    assert(visited.sorted == Seq("https://example.com", "https://h1.example.com/y"))
    val suppressed = spark.read.parquet(s"$wh/suppressed/epoch=0")
      .select("url").as[String].collect().toSeq
    assert(suppressed == Seq("https://h1.example.com/x1"))
  }
}
