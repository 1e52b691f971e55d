package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Base64

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** End-to-end crawl vs the Python trace oracle (tools/gen_site_fixtures.py):
  * exact trace sequence, exact visited/links sets, exact per-epoch frontiers,
  * bit-exact links.txt, and exact resume (SURVEY.md §5.3).
  */
class FrontierSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def resLines(path: String): Seq[String] = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing $path")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  /** pages.tsv → input_hint-shaped DataFrame. */
  private def loadPages(scenario: String): DataFrame = {
    val rows = resLines(s"/sites/$scenario/pages.tsv").map { line =>
      val Array(url, b64) = line.split("\t", -1)
      val html = Base64.getDecoder.decode(b64)
      val text = graft.html.HtmlExtract.extractText(html)
      (url, new java.sql.Timestamp(1700000000000L), html, text, "en")
    }
    rows.toDF("url", "warc_ts", "html", "text", "lang")
  }

  private def config(scenario: String): (String, Option[Int], Seq[String], Boolean) = {
    val json = resLines(s"/sites/$scenario/config.json").mkString
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val budget = Option(node.get("budget")).filterNot(_.isNull).map(_.asInt())
    val seeds = Option(node.get("seeds")).map { arr =>
      (0 until arr.size()).map(arr.get(_).asText())
    }.getOrElse(Seq(s"https://${node.get("domain").asText()}"))
    val depthPriority = Option(node.get("depth_priority")).exists(_.asBoolean(false))
    (node.get("domain").asText(), budget, seeds, depthPriority)
  }

  private def runScenario(scenario: String,
      tweak: CrawlConfig => CrawlConfig = identity): (CrawlResult, String) = {
    val (domain, budget, seeds, depthPriority) = config(scenario)
    val wh = Files.createTempDirectory(s"graft-$scenario-").toString
    val engine = new CrawlEngine(spark,
      tweak(CrawlConfig(domain = domain, budget = budget, numPartitions = 4,
        depthPriority = depthPriority)))
    val result = engine.run(loadPages(scenario), seeds, wh)
    (result, wh)
  }

  private def checkScenario(scenario: String,
      tweak: CrawlConfig => CrawlConfig = identity): Unit = {
    val (result, wh) = runScenario(scenario, tweak)
    // trace: exact sequence under the §A.1 canonical serialization
    val gotTrace = result.trace.select("url").as[String].collect().toSeq
    assert(gotTrace == resLines(s"/sites/$scenario/trace.txt"), s"$scenario trace")
    // visited set, code-point-sorted (Spark string sort = code-point order;
    // Scala .sorted would be UTF-16 code-unit order, wrong above U+FFFF)
    val gotVisited = result.visited.select("url").orderBy("url").as[String].collect().toSeq
    assert(gotVisited == resLines(s"/sites/$scenario/visited.txt"), s"$scenario visited")
    // links.txt bit-exact save format (crawler.py:93-97)
    val gotLinks = result.links.select("url").orderBy("url").as[String].collect()
    val expected = resLines(s"/sites/$scenario/links.txt")
    assert(gotLinks.toSeq == expected, s"$scenario links")
    val fileBytes = gotLinks.map(_ + "\n").mkString.getBytes(UTF_8)
    val goldenBytes = {
      val in = getClass.getResourceAsStream(s"/sites/$scenario/links.txt")
      try in.readAllBytes() finally in.close()
    }
    assert(java.util.Arrays.equals(fileBytes, goldenBytes), s"$scenario links.txt bytes")
    // per-epoch frontiers
    // sorted-SEQUENCE equality (not Set): a duplicate url row in a frontier
    // (e.g. a regression in the groupBy-min candidate merge) must fail here
    val expectedEpochs = resLines(s"/sites/$scenario/frontier_epochs.txt")
      .map { l => val Array(e, u) = l.split("\t", 2); (e.toInt, u) }
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sorted(CrawlEngine.codePointOrdering)).toMap
    for ((e, urls) <- expectedEpochs) {
      val got = spark.read.parquet(s"$wh/frontier/epoch=$e")
        .select("url").orderBy("url").as[String].collect().toSeq
      assert(got == urls, s"$scenario frontier epoch $e")
    }
    assert(result.epochs == expectedEpochs.size, s"$scenario epoch count")
  }

  test("basic: BFS with cycles, dups, dead links, off-domain, params/fragments") {
    checkScenario("basic")
  }

  test("quirks: port/superstring/case netloc semantics, subdomains, proto-relative") {
    checkScenario("quirks")
  }

  test("budget2: per-host politeness budget with multi-epoch deferral") {
    checkScenario("budget2")
  }

  test("salted budget window + shuffled fetch join: a 100 001-url frontier " +
    "fetches the exact per-host top 2") {
    // above the single-phase cutoff and the broadcast cap (both 10^5 rows),
    // so the budget window runs salted two-phase and the fetch keys shuffle
    val d = "example.com"
    val seeds = (0 to 100000).map(i => s"https://h${i % 8}.$d/p/$i")
    val pages = Seq((s"https://$d", new java.sql.Timestamp(1700000000000L),
      "<p>x</p>".getBytes(UTF_8), "", "en")).toDF("url", "warc_ts", "html", "text", "lang")
    val wh = Files.createTempDirectory("graft-salted-").toString
    val r = new CrawlEngine(spark, CrawlConfig(d, budget = Some(2),
      numPartitions = 4, maxEpochs = 1)).run(pages, seeds, wh)
    val top2 = seeds.groupBy(u => u.split('/')(2)).values.flatMap(_.sorted.take(2)).toSet
    assert(top2.size == 16)
    val visited = r.visited.as[(Int, String)].collect().toSeq
    assert(visited.map(_._1).toSet == Set(0) && visited.map(_._2).toSet == top2)
    assert(visited.size == 16, "duplicate visits")
    val next = new graft.snapshot.SnapshotStore(spark, wh)
      .readTable(r.lastSnapshot, "frontier").select("url", "priority").as[(String, Long)]
      .collect().toSeq
    assert(next.size == seeds.size - 16 && next.forall(_._2 == 0L))
    assert(next.map(_._1).toSet == seeds.toSet -- top2)
  }

  test("robots: disallow/allow longest-match gating") {
    checkScenario("robots")
    // no budget + shuffled robots join: the store probes see host-partitioned
    // candidates, so both must route their rows — the crawl stays
    // oracle-exact
    checkScenario("robots", _.copy(broadcastMaxRows = 0L))
  }

  test("a robots-blocked seed that a fetched page links to is never visited " +
    "and suppressed exactly once (bucketlocal ≡ anti)") {
    val d = "example.com"
    val blocked = s"https://$d/private/a"
    def b(html: String): Array[Byte] = html.getBytes(UTF_8)
    val pages = Seq(
      s"https://$d/robots.txt" -> b("User-agent: *\nDisallow: /private\n"),
      s"https://$d" -> b("""<a href="/private/a">x</a><a href="/pub">y</a>"""),
      s"https://$d/pub" -> b(s"""<a href="$blocked">x</a>"""),
      blocked -> b("<p>never fetched</p>"))
      .map { case (u, h) => (u, new java.sql.Timestamp(1700000000000L), h, "", "en") }
      .toDF("url", "warc_ts", "html", "text", "lang")
    def crawl(seenDedup: String): (Seq[(Int, String)], Seq[String]) = {
      val wh = Files.createTempDirectory("graft-blockedseed-").toString
      val r = new CrawlEngine(spark, CrawlConfig(d, numPartitions = 4,
        seenDedup = seenDedup)).run(pages, Seq(s"https://$d", blocked), wh)
      (r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
        new graft.snapshot.SnapshotStore(spark, wh).readTable(r.lastSnapshot, "suppressed")
          .select("url").as[String].collect().toSeq)
    }
    val (trace, suppressed) = crawl("bucketlocal")
    assert(trace == Seq((0, s"https://$d"), (1, s"https://$d/pub")), trace.toString)
    assert(suppressed == Seq(blocked), suppressed.toString)
    assert(crawl("anti") == ((trace, suppressed)))
  }

  test("combo: budget=1 + per-host robots + subdomains + dead links together") {
    checkScenario("combo")
  }

  test("delay: robots crawl-delay tightens per-host budgets with no configured budget") {
    checkScenario("delay")
    // the same budgets through the shuffled crawl-delay join
    checkScenario("delay", _.copy(broadcastMaxRows = 0L))
    // non-degenerate: without the crawl-delay machinery the same site drains
    // in ONE content epoch (budget=None) — the 7-epoch golden proves the
    // delay column alone drives multi-epoch deferral
    assert(resLines("/sites/delay/frontier_epochs.txt")
      .map(_.split("\t")(0).toInt).max >= 4)
  }

  test("delayfloor: crawl-delay nan (no cap), inf (cap 1), and a delay where " +
    "Python floordiv differs from floor(window/d) by one") {
    checkScenario("delayfloor")
    checkScenario("delayfloor", _.copy(broadcastMaxRows = 0L))
    // non-degenerate: the scenario spans multiple epochs only because the
    // delay caps bite (no configured budget)
    assert(resLines("/sites/delayfloor/frontier_epochs.txt")
      .map(_.split("\t")(0).toInt).max >= 2)
  }

  test("saveLinks writes a bit-exact links.txt (O-11 sink parity)") {
    val (result, _) = runScenario("basic")
    val out = Files.createTempDirectory("graft-linkstxt-").toString + "/links"
    result.saveLinks(out)
    val part = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
    assert(part.length == 1)
    val got = Files.readAllBytes(part.head.toPath)
    val golden = {
      val in = getClass.getResourceAsStream("/sites/basic/links.txt")
      try in.readAllBytes() finally in.close()
    }
    assert(java.util.Arrays.equals(got, golden))
  }

  test("multiseed: seed-list crawl matches the oracle (north_star seed list)") {
    checkScenario("multiseed")
  }

  test("priority: depth-priority schedule fetches deferred URLs before lex-smaller new ones") {
    checkScenario("priority")
    // the non-degenerate check: with depth priority OFF, the same site gives
    // a DIFFERENT epoch assignment (lex-first), proving the priority column
    // actually drives the schedule
    val (domain, budget, seeds, _) = config("priority")
    val wh = Files.createTempDirectory("graft-priority-off-").toString
    val flat = new CrawlEngine(spark,
      CrawlConfig(domain, budget, numPartitions = 4, depthPriority = false))
      .run(loadPages("priority"), seeds, wh)
    val flatTrace = flat.trace.select("epoch", "url").as[(Int, String)].collect().toSeq
    val goldenTrace = resLines("/sites/priority/trace.txt")
    assert(flatTrace.map(_._2) != goldenTrace,
      "scenario does not differentiate priority from lex order")
  }

  test("astral: non-BMP URLs schedule, trace, and sort in code-point order") {
    checkScenario("astral")
  }

  test("fuzz sites: seeded-random graphs with mixed budget/robots/priority/" +
    "seed-count, messy href spellings, and NBSP attribute separators") {
    Seq("fuzz1", "fuzz2", "fuzz3", "fuzz4", "fuzz5", "fuzz6").foreach(checkScenario(_))
  }

  test("saveLinksSharded: part files concatenate to the parity links.txt bytes") {
    val (result, _) = runScenario("basic")
    val out = Files.createTempDirectory("graft-sharded-").toString + "/links"
    result.saveLinksSharded(out, shards = 3)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
      .sortBy(_.getName)
    assert(parts.length > 1, "expected multiple shards")
    val got = parts.flatMap(f => Files.readAllBytes(f.toPath))
    val golden = {
      val in = getClass.getResourceAsStream("/sites/basic/links.txt")
      try in.readAllBytes() finally in.close()
    }
    assert(java.util.Arrays.equals(got, golden))
  }

  test("saveTraceSharded: part files concatenate to the parity trace bytes") {
    val (result, _) = runScenario("basic")
    val base = Files.createTempDirectory("graft-trace-sharded-").toString
    result.saveTrace(s"$base/parity")
    result.saveTraceSharded(s"$base/sharded", shards = 3)
    def bytesOf(dir: String): Array[Byte] = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
      .sortBy(_.getName)
      .flatMap(f => Files.readAllBytes(f.toPath))
    val sharded = new java.io.File(s"$base/sharded").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".txt"))
    assert(sharded > 1, "expected multiple shards")
    assert(java.util.Arrays.equals(bytesOf(s"$base/sharded"), bytesOf(s"$base/parity")))
  }

  test("per-partition fetch/extract metrics: exact counts incl. null-html " +
    "parse errors, malformed html, and dead links") {
    val d = "example.com"
    def b(html: String): Array[Byte] = html.getBytes(UTF_8)
    val pagesMap: Map[String, Array[Byte]] = Map(
      s"https://$d" -> b("""<html><a href="/b">x</a><a href="/c">y</a><a href="/dead">z</a></html>"""),
      s"https://$d/b" -> b("""<a href="/e">ok</a><a href='/broken"""), // malformed tail
      s"https://$d/c" -> null, // failed fetch: the parse_errors signal
      s"https://$d/e" -> b("<html>no links</html>"))
    val pages = pagesMap.toSeq
      .map { case (u, h) => (u, new java.sql.Timestamp(1700000000000L), h, "", "en") }
      .toDF("url", "warc_ts", "html", "text", "lang")
    val wh = Files.createTempDirectory("graft-pmetrics-").toString
    val result = new CrawlEngine(spark, CrawlConfig(d, numPartitions = 4))
      .run(pages, s"https://$d", wh)
    val visited = result.visited.select("url").as[String].collect().toSet
    assert(visited.contains(s"https://$d/dead"), "dead link was never scheduled")
    // expected totals, recomputed from the same pages the crawl fetched
    var (eP, eB, eL, eE) = (0L, 0L, 0L, 0L)
    visited.foreach { u =>
      pagesMap.get(u).foreach { h =>
        eP += 1
        if (h == null) eE += 1
        else { eB += h.length; eL += graft.html.HtmlExtract.extractLinks(h).size }
      }
    }
    assert(eE == 1 && eP >= 3 && eL >= 3, s"scenario degenerate: $eP/$eE/$eL")
    val store = new graft.snapshot.SnapshotStore(spark, wh)
    val snaps = (0 until result.epochs).flatMap(store.snapshotAt)
    assert(snaps.map(_.metrics("pages_hit")).sum == eP)
    assert(snaps.map(_.metrics("bytes_html")).sum == eB)
    assert(snaps.map(_.metrics("links_out")).sum == eL)
    assert(snaps.map(_.metrics("parse_errors")).sum == eE)
    // dead link: visited but no page row — the fetched − pages_hit residual
    assert(snaps.map(_.metrics("fetched")).sum - eP >= 1)
    // per-partition rows sum to the same totals, with sane partition ids
    val pm = snaps.flatMap(_.partitionMetrics)
    assert(pm.map(_.pages).sum == eP && pm.map(_.bytesHtml).sum == eB &&
      pm.map(_.linksOut).sum == eL && pm.map(_.parseErrors).sum == eE)
    assert(pm.forall(_.partitionId >= 0))
    // the §1.2 metrics-table reader materializes the same rows
    val mt = store.partitionMetricsTable()
    assert(mt.columns.toSeq == Seq("epoch", "partition_id", "pages",
      "bytes_html", "links_out", "parse_errors"))
    assert(mt.agg(sum("pages"), sum("bytes_html"), sum("links_out"),
      sum("parse_errors")).as[(Long, Long, Long, Long)].head ==
      ((eP, eB, eL, eE)))
  }

  test("links compaction: identical results, fewer manifest files, " +
    "crash-safe re-run, time travel intact") {
    val (domain, budget, seeds, _) = config("basic")
    val pages = loadPages("basic")
    val golden = resLines("/sites/basic/links.txt")
    val whC = Files.createTempDirectory("graft-compact-").toString
    val compactCfg = CrawlConfig(domain, budget, numPartitions = 4,
      linksCompactMinRows = 1, linksCompactFactor = 1.5)
    val rc = new CrawlEngine(spark, compactCfg).run(pages, seeds, whC)
    assert(rc.links.select("url").orderBy("url").as[String].collect().toSeq == golden)
    // materialize now: the crash-simulation below re-runs epochs and
    // overwrites their delta dirs, invalidating this run's lazy plans
    val rcTrace = rc.trace.select("epoch", "url").as[(Int, String)].collect().toSeq
    val storeC = new graft.snapshot.SnapshotStore(spark, whC)
    val snapsC = (0 until rc.epochs).flatMap(storeC.snapshotAt)
    assert(snapsC.exists(_.metrics("links_compacted") == 1L), "never compacted")
    // compacted manifest lists fewer link files than the append-only control
    val whA = Files.createTempDirectory("graft-nocompact-").toString
    val ra = new CrawlEngine(spark, CrawlConfig(domain, budget, numPartitions = 4,
      linksCompactFactor = 0)).run(pages, seeds, whA)
    val filesC = storeC.latest().get.tables("links").dataFiles.size
    val filesA = new graft.snapshot.SnapshotStore(spark, whA)
      .latest().get.tables("links").dataFiles.size
    assert(filesC < filesA, s"compacted $filesC !< append-only $filesA")
    assert(ra.links.select("url").orderBy("url").as[String].collect().toSeq == golden)
    // time travel: a pre-compaction snapshot still reads through its own
    // (never-deleted) delta files
    val mid = storeC.snapshotAt(0).get
    assert(storeC.readTable(mid, "links").distinct().count() <= golden.size)
    // crash-safety: drop manifests back past a compaction and resume — the
    // re-run overwrites the orphan compact dirs and converges identically
    storeC.truncateAfter(1)
    val resumed = new CrawlEngine(spark, compactCfg).run(pages, seeds, whC)
    assert(resumed.links.select("url").orderBy("url").as[String].collect().toSeq == golden)
    assert(resumed.trace.select("epoch", "url").as[(Int, String)].collect().toSeq ==
      rcTrace)
  }

  test("resume: interrupted run continues to identical final state") {
    val (domain, budget, _, _) = config("basic")
    val pages = loadPages("basic")
    val whFull = Files.createTempDirectory("graft-full-").toString
    val whPart = Files.createTempDirectory("graft-part-").toString
    val full = new CrawlEngine(spark, CrawlConfig(domain, budget, numPartitions = 4))
      .run(pages, s"https://$domain", whFull)
    // run only 2 epochs, then resume to fixpoint with a fresh engine
    new CrawlEngine(spark, CrawlConfig(domain, budget, numPartitions = 4, maxEpochs = 2))
      .run(pages, s"https://$domain", whPart)
    val resumed = new CrawlEngine(spark, CrawlConfig(domain, budget, numPartitions = 4))
      .run(pages, s"https://$domain", whPart)
    assert(resumed.trace.select("epoch", "url").as[(Int, String)].collect().toSeq ==
      full.trace.select("epoch", "url").as[(Int, String)].collect().toSeq)
    // Spark-side orderBy = code-point order (the repo-wide sort rule);
    // driver-side .sorted would be UTF-16 code-unit order
    assert(resumed.links.select("url").orderBy("url").as[String].collect().toSeq ==
      full.links.select("url").orderBy("url").as[String].collect().toSeq)
  }

  test("resume under robots + crawl-delay + depth priority: suppressed and " +
    "deferral state survive the interrupt") {
    import graft.synth.SiteGen
    val domain = "example.com"
    val pages = SiteGen.pages(spark, domain, nPages = 120, hosts = 4,
      outDegree = 8, numPartitions = 4,
      robotsBody = Some("User-agent: *\nDisallow: /p/1\nCrawl-delay: 11\n"))
      .persist()
    def cfg(maxE: Int) = CrawlConfig(domain, budget = Some(7),
      depthPriority = true, numPartitions = 4, maxEpochs = maxE)
    val whFull = Files.createTempDirectory("graft-rfull-").toString
    val whPart = Files.createTempDirectory("graft-rpart-").toString
    val full = new CrawlEngine(spark, cfg(6)).run(pages, s"https://$domain", whFull)
    // interrupt mid-crawl (deferred URLs and suppressed rows outstanding),
    // then resume with a fresh engine over the same warehouse
    new CrawlEngine(spark, cfg(2)).run(pages, s"https://$domain", whPart)
    val resumed = new CrawlEngine(spark, cfg(6)).run(pages, s"https://$domain", whPart)
    assert(resumed.trace.select("epoch", "url").as[(Int, String)].collect().toSeq ==
      full.trace.select("epoch", "url").as[(Int, String)].collect().toSeq)
    assert(resumed.links.select("url").orderBy("url").as[String].collect().toSeq ==
      full.links.select("url").orderBy("url").as[String].collect().toSeq)
    pages.unpersist()
  }

  test("crash: torn manifest and uncommitted data dirs are invisible on resume") {
    val (domain, budget, _, _) = config("basic")
    val pages = loadPages("basic")
    val wh = Files.createTempDirectory("graft-crash-").toString
    new CrawlEngine(spark, CrawlConfig(domain, budget, numPartitions = 4, maxEpochs = 3))
      .run(pages, s"https://$domain", wh)
    // simulate crash mid-epoch-3: stale data dir + torn manifest exist
    val store = new graft.snapshot.SnapshotStore(spark, wh)
    store.truncateAfter(1) // keep snapshots -1..1 only
    Files.write(Paths.get(wh, "metadata", "snap-2.json"),
      "{ torn".getBytes(UTF_8)) // torn manifest must be ignored
    val resumed = new CrawlEngine(spark, CrawlConfig(domain, budget, numPartitions = 4))
      .run(pages, s"https://$domain", wh)
    val full = runScenario("basic")._1
    assert(resumed.trace.select("url").as[String].collect().toSeq ==
      full.trace.select("url").as[String].collect().toSeq)
  }
}
