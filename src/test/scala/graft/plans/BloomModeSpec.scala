package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Seen-sketch mode equivalence + the warm-up-gap regression: URLs fetched
  * BEFORE the bloom activates must still be covered by the sketch when it
  * does (ADVICE r1-high) — otherwise cyclic back-links re-enter the frontier
  * and produce duplicate (epoch, url) visits.
  */
class BloomModeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val domain = "example.com"
  private val n = 24

  /** Chain 0→1→…→n-1→0, every page also back-links to pages 0 and 1: one new
    * fetch per epoch, and every epoch re-proposes the earliest URLs.
    */
  private def cyclicPages: DataFrame = {
    def url(i: Int) = s"https://$domain/p/$i"
    (0 until n).map { i =>
      val html =
        s"""<a href="${url((i + 1) % n)}">next</a>
           |<a href="${url(0)}">home</a><a href="${url(1)}">one</a>""".stripMargin
      val bytes = html.getBytes("UTF-8")
      (url(i), new java.sql.Timestamp(1700000000000L), bytes,
        graft.html.HtmlExtract.extractText(bytes), "en")
    }.toDF("url", "warc_ts", "html", "text", "lang")
  }

  private def crawl(cfg: CrawlConfig): (Seq[(Int, String)], Seq[String]) = {
    val wh = Files.createTempDirectory("graft-bloommode-").toString
    val r = new CrawlEngine(spark, cfg).run(cyclicPages, s"https://$domain/p/0", wh)
    (r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      r.links.select("url").orderBy("url").as[String].collect().toSeq)
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` — and so the engine's
    * store bucket count — set to `n`.
    */
  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toLong)
    try body finally spark.conf.set(key, prev)
  }

  private lazy val plain = crawl(CrawlConfig(domain, numPartitions = 4,
    bloomMinSeen = Long.MaxValue, // sketch never activates…
    seenDedup = "anti")) // …and the authoritative check is the left_anti join

  test("bucket-local sorted-shard dedup ≡ plain anti-join (sketch off and on)") {
    // default seenDedup=bucketlocal: the authoritative check reads only the
    // SeenUrlStore shard files — never re-shuffles the cumulative seen set
    val noSketch = crawl(CrawlConfig(domain, numPartitions = 4,
      bloomMinSeen = Long.MaxValue)) // every candidate takes the store probe
    assert(noSketch == plain)
    val withSketch = crawl(CrawlConfig(domain, numPartitions = 4,
      bloomMinSeen = 4, bloomExpectedTotal = 1024)) // only maybe-seen rows probe
    assert(withSketch == plain)
    // the same site with its last page missing: that page's epoch extracts
    // no links, so the crawl ends at a fixpoint epoch with no candidates.
    // Per epoch (candidates_in, next_frontier, fetched) — candidates_in is
    // observed on the frontier write — is equal on every path and exact;
    // the visited trace is the full site's
    val deadEnd = cyclicPages.filter($"url" =!= s"https://$domain/p/${n - 1}")
    val expected = (2L, 1L, 1L) +: Seq.fill(n - 2)((3L, 1L, 1L)) :+ ((0L, 0L, 1L))
    for (cfg <- Seq(
        CrawlConfig(domain, numPartitions = 4, bloomMinSeen = Long.MaxValue, seenDedup = "anti"),
        CrawlConfig(domain, numPartitions = 4, bloomMinSeen = Long.MaxValue),
        CrawlConfig(domain, numPartitions = 4, bloomMinSeen = 4, bloomExpectedTotal = 1024))) {
      val wh = Files.createTempDirectory("graft-bloommode-fix-").toString
      val r = new CrawlEngine(spark, cfg).run(deadEnd, s"https://$domain/p/0", wh)
      val store = new graft.snapshot.SnapshotStore(spark, wh)
      val counts = (0 until r.epochs).map { e =>
        val m = store.snapshotAt(e).get.metrics
        (m("candidates_in"), m("next_frontier"), m("fetched"))
      }
      assert(counts == expected, cfg.seenDedup)
      assert(r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq == plain._1,
        cfg.seenDedup)
    }
  }

  test("periodic seen-shard compaction mid-crawl and across truncate-resume " +
    "keeps the trace exact") {
    val cfg = CrawlConfig(domain, numPartitions = 4, bloomMinSeen = 4,
      bloomExpectedTotal = 1024, seenCompactEvery = 2)
    // ~n epochs on the cyclic site ⇒ many compaction points
    val (trace, links) = crawl(cfg)
    assert((trace, links) == plain)
    // truncate past several compactions and resume: bases newer than the
    // resumed epoch are ignored (epoch-bounded reader) and the re-run
    // regenerates identical state
    val wh = Files.createTempDirectory("graft-seencompact-").toString
    new CrawlEngine(spark, cfg.copy(maxEpochs = 8))
      .run(cyclicPages, s"https://$domain/p/0", wh)
    new graft.snapshot.SnapshotStore(spark, wh).truncateAfter(3)
    val resumed = new CrawlEngine(spark, cfg).run(cyclicPages, s"https://$domain/p/0", wh)
    val got = (resumed.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      resumed.links.select("url").orderBy("url").as[String].collect().toSeq)
    assert(got == plain)
    // compaction actually produced base files
    val buckets = new java.io.File(s"$wh/seenstore").listFiles()
    assert(buckets != null &&
      buckets.exists(d => d.isDirectory &&
        d.listFiles().exists(_.getName.startsWith("c"))), "no base files written")
  }

  test("resume with a changed seen-store bucket count rebuilds the index " +
    "from the authoritative parquet (trace exact)") {
    // the store's _meta.json records its bucket count (= the session's
    // shuffle partitions); a resume under a different count must NOT trust
    // the mis-bucketed shards — the gate clears and rebuilds from visited,
    // and the crawl stays exact
    val wh = Files.createTempDirectory("graft-bucketchange-").toString
    withShufflePartitions(3) {
      new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 4, maxEpochs = 8))
        .run(cyclicPages, s"https://$domain/p/0", wh)
    }
    new graft.snapshot.SnapshotStore(spark, wh).truncateAfter(5)
    val resumed = withShufflePartitions(7) {
      new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 4))
        .run(cyclicPages, s"https://$domain/p/0", wh)
    }
    val got = (resumed.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      resumed.links.select("url").orderBy("url").as[String].collect().toSeq)
    assert(got == plain)
  }

  test("warm-up: bloom activating mid-crawl never re-visits early URLs") {
    // activates around epoch 3; pages 0..2 were fetched before activation
    val (trace, links) = crawl(CrawlConfig(domain, numPartitions = 4,
      bloomMinSeen = 4, bloomExpectedTotal = 1024))
    val urls = trace.map(_._2)
    assert(urls.distinct.size == urls.size, "duplicate visits")
    assert((trace, links) == plain)
  }

  test("broadcast bloom auto-resizes when the crawl outgrows bloomExpectedTotal") {
    // 24 urls vs a sketch designed for 8: the resize branch must rebuild
    // from the full seen set (results stay exact) and the recorded capacity
    // must have grown past the configured expectation
    val wh = Files.createTempDirectory("graft-bloomresize-").toString
    val r = new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 4,
      bloomMinSeen = 4, bloomExpectedTotal = 8))
      .run(cyclicPages, s"https://$domain/p/0", wh)
    val got = (r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      r.links.select("url").orderBy("url").as[String].collect().toSeq)
    assert(got == plain)
    val cap = new graft.snapshot.SnapshotStore(spark, wh)
      .latest().get.metrics("sketch_capacity")
    assert(cap > 8, s"sketch capacity never grew: $cap")
  }

  test("first sketch build is sized at 2× the seen estimate, not expectedTotal") {
    // default bloomExpectedTotal (10^7): the first build covers visited rows
    // + this epoch's frontier with 2× headroom, no build comes near 10^7, and
    // the manifest's sketch_bytes is the table that was built
    val wh = Files.createTempDirectory("graft-bloomsize-").toString
    val r = new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 4,
      bloomMinSeen = 4)).run(cyclicPages, s"https://$domain/p/0", wh)
    val got = (r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      r.links.select("url").orderBy("url").as[String].collect().toSeq)
    assert(got == plain)
    val store = new graft.snapshot.SnapshotStore(spark, wh)
    val snaps = (0 until r.epochs).map(e => store.snapshotAt(e).get)
    val first = snaps.indexWhere(_.metrics("sketch_capacity") > 0L)
    assert(first > 0, "sketch never activated")
    val seen = store.snapshotAt(first - 1).get.tables("visited").totalRows +
      snaps(first).metrics("urls_in")
    assert(snaps(first).metrics("sketch_capacity") == 2 * seen)
    snaps.foreach { s =>
      val c = s.metrics("sketch_capacity")
      assert(c < 1000L, s"capacity $c is not sized to a 24-url crawl")
      assert(s.metrics("sketch_bytes") ==
        (if (c == 0L) 0L else graft.sketch.BloomSketch.sizing(c, 0.01)._1 / 8))
    }
  }

  test("cuckoo sketch auto-resizes when the crawl outgrows bloomExpectedTotal") {
    // the bloom resize test's cuckoo twin: the same rule rebuilds a larger
    // cuckoo from the full seen set, and the results stay exact
    val wh = Files.createTempDirectory("graft-cuckooresize-").toString
    val r = new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 4,
      sketchKind = "cuckoo", bloomMinSeen = 4, bloomExpectedTotal = 8))
      .run(cyclicPages, s"https://$domain/p/0", wh)
    val got = (r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      r.links.select("url").orderBy("url").as[String].collect().toSeq)
    assert(got == plain)
    val last = new graft.snapshot.SnapshotStore(spark, wh).latest().get.metrics
    assert(last("sketch_capacity") > 8, s"sketch capacity never grew: ${last("sketch_capacity")}")
    assert(last("sketch_bytes") == graft.sketch.CuckooSketch.bytesFor(last("sketch_capacity")))
  }

  test("cuckoo seen-sketch probe ≡ plain anti-join (north_star fallback wired)") {
    val (trace, links) = crawl(CrawlConfig(domain, numPartitions = 4,
      sketchKind = "cuckoo", bloomMinSeen = 4, bloomExpectedTotal = 1024))
    val urls = trace.map(_._2)
    assert(urls.distinct.size == urls.size, "duplicate visits")
    assert((trace, links) == plain)
  }

  test("saturated (degraded) cuckoo sketch still crawls exactly") {
    // activation at 20 seen urls with expectedTotal 1 ⇒ a 4-bucket (16-slot)
    // filter must take 20 fingerprints: it saturates and degrades to
    // always-maybe, so every row takes the authoritative store probe. The
    // next epoch outgrows capacity 1 and rebuilds a larger, healthy cuckoo
    // — the trace must stay identical (correctness never rides on the sketch)
    val wh = Files.createTempDirectory("graft-cuckoosat-").toString
    val r = new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 4,
      sketchKind = "cuckoo", bloomMinSeen = 20, bloomExpectedTotal = 1))
      .run(cyclicPages, s"https://$domain/p/0", wh)
    val got = (r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
      r.links.select("url").orderBy("url").as[String].collect().toSeq)
    assert(got == plain)
    val store = new graft.snapshot.SnapshotStore(spark, wh)
    val caps = (0 until r.epochs).map(e => store.snapshotAt(e).get.metrics("sketch_capacity"))
    assert(caps.dropWhile(_ == 0L).take(2) == Seq(1L, 42L),
      s"expected a capacity-1 activation, then a rebuild: $caps")
  }

  test("a sketch above the 256 MiB broadcast cap is never built (capacity rule)") {
    // the engine sizes every build through this one rule, so a huge sketch
    // can no longer be forced end to end through bloomExpectedTotal: pin the
    // cap on the rule itself, for both kinds and both branches
    val cap = 256L << 20
    for (cuckoo <- Seq(false, true)) {
      // first build: 2× the seen estimate, capped at expectedTotal
      assert(CrawlEngine.sketchCapacity(108000L, 0L, 10000000L, cuckoo) == Some(216000L))
      assert(CrawlEngine.sketchCapacity(108000L, 0L, 1000L, cuckoo) == Some(1000L))
      // outgrown: the larger of 2× the seen estimate and 2× the old capacity
      assert(CrawlEngine.sketchCapacity(1001L, 1000L, 8L, cuckoo) == Some(2002L))
      assert(CrawlEngine.sketchCapacity(5000L, 1000L, 8L, cuckoo) == Some(10000L))
    }
    def bloomBytes(n: Long) = graft.sketch.BloomSketch.sizing(n, 0.01)._1 / 8
    def cuckooBytes(n: Long) = graft.sketch.CuckooSketch.bytesFor(n)
    // bloom: 2.24·10^8 urls fit (just under 256 MiB), 2.25·10^8 do not
    assert(bloomBytes(224000000L) <= cap && bloomBytes(225000000L) > cap)
    assert(CrawlEngine.sketchCapacity(112000000L, 0L, Long.MaxValue, false) == Some(224000000L))
    assert(CrawlEngine.sketchCapacity(112500000L, 0L, Long.MaxValue, false).isEmpty)
    assert(CrawlEngine.sketchCapacity(150000000L, 0L, 300000000L, false).isEmpty)
    assert(CrawlEngine.sketchCapacity(120000001L, 120000000L, 8L, false).isEmpty)
    // cuckoo: 1.12·10^8 urls fill a 2^25-bucket (256 MiB) table, 1.2·10^8 a
    // 512 MiB one
    assert(cuckooBytes(112000000L) == cap && cuckooBytes(120000000L) > cap)
    assert(CrawlEngine.sketchCapacity(56000000L, 0L, Long.MaxValue, true) == Some(112000000L))
    assert(CrawlEngine.sketchCapacity(60000000L, 0L, Long.MaxValue, true).isEmpty)
    assert(CrawlEngine.sketchCapacity(60000001L, 60000000L, 8L, true).isEmpty)
  }

  test("truncate-resume with a changed budget: later-timeline seen deltas " +
    "are dropped (bucketlocal ≡ anti)") {
    // the first run's deltas for epochs 4..7 belong to no snapshot after the
    // truncate; the re-run with a smaller budget fetches fewer urls per epoch,
    // and with more store buckets than urls per epoch it leaves most buckets
    // of each re-run epoch empty — a surviving stale delta there would mark
    // urls this timeline never fetched as seen and drop them from the crawl
    val pages = graft.synth.SiteGen.pages(spark, domain, nPages = 120, hosts = 4,
      outDegree = 6, numPartitions = 4).persist()
    def resumed(seenDedup: String): (Seq[(Int, String)], Seq[String]) =
      withShufflePartitions(16) {
        val wh = Files.createTempDirectory("graft-truncresume-").toString
        def cfg(budget: Int) = CrawlConfig(domain, budget = Some(budget),
          numPartitions = 4, seenDedup = seenDedup)
        new CrawlEngine(spark, cfg(3).copy(maxEpochs = 8))
          .run(pages, s"https://$domain", wh)
        new graft.snapshot.SnapshotStore(spark, wh).truncateAfter(3)
        val r = new CrawlEngine(spark, cfg(2)).run(pages, s"https://$domain", wh)
        (r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
          r.links.select("url").orderBy("url").as[String].collect().toSeq)
      }
    val anti = resumed("anti")
    assert(anti._1.map(_._1).max >= 8, "resumed crawl too short to reach the stale epochs")
    assert(resumed("bucketlocal") == anti)
    pages.unpersist()
  }

  test("an anti leg between bucket-local legs clears the stores: the next " +
    "bucket-local resume rebuilds them (bucketlocal ≡ anti)") {
    // bucketlocal (budget 3) → truncate → anti resume (budget 2) → truncate
    // → resume in the first mode. The anti leg writes no store deltas; had it
    // left the stores in place, the last leg would trust the first leg's
    // deltas for epochs 4..6 and mark urls its own timeline only deferred as
    // seen
    val pages = graft.synth.SiteGen.pages(spark, domain, nPages = 120, hosts = 4,
      outDegree = 6, numPartitions = 4).persist()
    def legs(outer: String): (Seq[(Int, String)], Seq[String]) = {
      val wh = Files.createTempDirectory("graft-antileg-").toString
      def run(seenDedup: String, budget: Int, maxEpochs: Int = Int.MaxValue) =
        new CrawlEngine(spark, CrawlConfig(domain, budget = Some(budget),
          numPartitions = 4, seenDedup = seenDedup, maxEpochs = maxEpochs))
          .run(pages, s"https://$domain", wh)
      val snapshots = new graft.snapshot.SnapshotStore(spark, wh)
      run(outer, 3, maxEpochs = 8)
      snapshots.truncateAfter(3)
      run("anti", 2, maxEpochs = 8)
      snapshots.truncateAfter(6)
      val r = run(outer, 2)
      (r.trace.select("epoch", "url").as[(Int, String)].collect().toSeq,
        r.links.select("url").orderBy("url").as[String].collect().toSeq)
    }
    val anti = legs("anti")
    assert(anti._1.map(_._1).max > 8, "crawl too short to pass the second truncate")
    assert(legs("bucketlocal") == anti)
    pages.unpersist()
  }
}
