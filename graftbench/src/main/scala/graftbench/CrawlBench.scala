package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{CrawlConfig, CrawlEngine}
import graft.snapshot.{BucketedPages, SnapshotStore}
import graft.snapshot.SnapshotStore.Snapshot
import graft.synth.SiteGen

/** Pure, serializable helpers for building crawl inputs inside Spark tasks. */
object CrawlInputs {
  val Domain = "example.com"
  val Hosts = 32
  val OutDegree = 12
  val RobotsBody = "User-agent: *\nDisallow: /p/1\nCrawl-delay: 11\n"
  // id ranges of the aged state that lie outside every corpus: decimal ids
  // starting with 1 are under Disallow: /p/1, those starting with 2 are not
  val PriorSuppressedBase = 10000000L
  val PriorVisitedBase = 20000000L

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Whether corpus page `i` is part of the aged state (9 pages in 10). */
  def aged(seed: Long, i: Long): Boolean =
    java.lang.Long.remainderUnsigned(mix(mix(seed) ^ i), 10L) != 0L

  def disallowed(i: Long): Boolean = i.toString.startsWith("1")
}

/** The two crawl workloads.
  *
  *  - steady_discovery: one epoch over a frontier pre-seeded with every page
  *    of the corpus; no budget, no robots.txt.
  *  - revisit_polite: `maxEpochs` epochs from the seed page over a
  *    bucket-adopted corpus with per-host robots.txt (Disallow + Crawl-delay),
  *    budget 7 and depth priority, resuming from aged crawl state: most of
  *    the corpus plus `priorExtra` further urls already visited (parquet and
  *    seen store), most disallowed pages plus `priorSupExtra` urls already
  *    suppressed.
  *
  * The corpus is synthesized once per run (SiteGen, written to parquet; for
  * revisit_polite also adopted into the bucket layout). The engine only
  * reads it. Every op (reference, each measured rep, the traced rep) then
  * gets a fresh set-up of its own, so no op reads state another op wrote:
  * the bootstrap snapshot and the aged visited/suppressed state with its
  * seen stores. Each set-up's duration is one setup_s sample.
  */
final class CrawlBench(spark: SparkSession, a: Args, spans: Spans) {
  import spark.implicits._
  import CrawlInputs._

  private val steady = a.workload == "steady_discovery"
  private val P = a.cores
  private val nPages: Long = if (a.tiny) 2000L else if (steady) 30000L else 10000L
  private val priorExtra: Long = if (steady) 0L else if (a.tiny) 20000L else 100000L
  private val priorSupExtra: Long = if (steady) 0L else if (a.tiny) 2000L else 10000L
  private val maxEpochs = if (steady) 1 else 2
  private val buckets = 32
  private val seedUrl = s"https://$Domain"

  val sizes: Map[String, Any] = Map("pages" -> nPages, "hosts" -> Hosts,
    "out_degree" -> OutDegree, "prior_visited_extra" -> priorExtra,
    "prior_suppressed_extra" -> priorSupExtra, "max_epochs" -> maxEpochs,
    "bucketed" -> !steady, "partitions" -> P)

  private def config(anti: Boolean) = CrawlConfig(Domain,
    budget = if (steady) None else Some(7),
    numPartitions = P,
    depthPriority = !steady,
    seenDedup = if (anti) "anti" else "bucketlocal",
    maxEpochs = maxEpochs)

  case class Prepared(dir: String, wh: String, setupSec: Double)

  private val corpusDir = s"${a.root}/crawl/corpus"
  private var plain: Option[DataFrame] = None
  private var bucketed: Option[BucketedPages] = None
  private def pages: DataFrame = plain.getOrElse(bucketed.get.full)

  /** The seeded corpus, once per run: synthesis, plus bucket adoption for
    * revisit_polite. Returns its seconds.
    */
  def synthesize(): Double = Util.time {
    val corpus = SiteGen.pages(spark, Domain, nPages, hosts = Hosts,
      outDegree = OutDegree, seed = a.seed, numPartitions = P,
      robotsBody = if (steady) None else Some(RobotsBody))
    if (steady) {
      corpus.write.parquet(corpusDir)
      plain = Some(spark.read.parquet(corpusDir))
    } else bucketed = Some(BucketedPages.adopt(spark, corpus, corpusDir, buckets))
  }._2

  /** Bootstrap snapshot + aged-state seeding into a fresh directory. */
  def prepare(tag: String): Prepared = {
    val t0 = System.nanoTime()
    val dir = s"${a.root}/crawl/$tag"
    val wh = s"$dir/wh"
    val store = new SnapshotStore(spark, wh)
    val hostKey = graft.plans.planfns.host_key(col("url"))
    val frontier0 =
      if (steady) plain.get.select(col("url"), hostKey.as("host"), lit(0L).as("priority"))
      else Seq(seedUrl).toDF("url").select(col("url"), hostKey.as("host"),
        lit(0L).as("priority"))
    val (seed, n, pe, pse) = (a.seed, nPages, priorExtra, priorSupExtra)
    def ids(from: Long, until: Long) = spark.range(from, until, 1, P).as[Long]
    def urls(ds: org.apache.spark.sql.Dataset[Long]) =
      ds.map(i => SiteGen.pageUrl(Domain, Hosts, i)).toDF("url")
    val priorVisited =
      if (steady) Seq.empty[String].toDF("url")
      else urls(ids(0, n).filter(i => !disallowed(i) && aged(seed, i)))
        .union(urls(ids(PriorVisitedBase, PriorVisitedBase + pe)))
    val priorSuppressed =
      if (steady) Seq.empty[String].toDF("url")
      else urls(ids(0, n).filter(i => disallowed(i) && aged(seed, i)))
        .union(urls(ids(PriorSuppressedBase, PriorSuppressedBase + pse)))
    val fState = store.writeDelta("frontier", 0, frontier0, None, fullRewrite = true)
    val vState = store.writeDelta("visited", -1,
      priorVisited.select(lit(-1).as("epoch"), col("url")), None)
    val lState = store.writeDelta("links", -1, Seq.empty[String].toDF("url"), None)
    val sState = store.writeDelta("suppressed", -1, priorSuppressed, None)
    if (!steady) {
      // the engine's own store layout: <warehouse>/seenstore and
      // <warehouse>/suppressedstore, one bucket per shuffle partition
      new graft.sketch.SeenUrlStore(s"$wh/seenstore", P).writeDelta(priorVisited, -1)
      new graft.sketch.SeenUrlStore(s"$wh/suppressedstore", P)
        .writeDelta(priorSuppressed, -1)
    }
    store.commit(-1, Map("frontier" -> fState, "visited" -> vState,
      "links" -> lState, "suppressed" -> sState), Map("seed" -> fState.deltaRows))
    Prepared(dir, wh, Util.secondsSince(t0))
  }

  /** The timed call. Returns (seconds, failure). */
  def run(p: Prepared, anti: Boolean, parent: Int): (Double, Option[Throwable], Int) = {
    val engine = new CrawlEngine(spark, config(anti))
    val ((sec, err), span) = spans.timed("CrawlEngine.run", "run", parent) { _ =>
      val t0 = System.nanoTime()
      val err =
        try {
          bucketed match {
            case Some(bp) => engine.run(bp, seedUrl, p.wh)
            case None => engine.run(plain.get, seedUrl, p.wh)
          }
          None
        } catch { case t: Throwable => Some(t) }
      (Util.secondsSince(t0), err)
    }
    (sec, err, span)
  }

  // ---- reading what the run published ------------------------------------

  case class EpochInfo(epoch: Int, snap: Snapshot, commitMs: Double) {
    def m(k: String): Long = snap.metrics.getOrElse(k, 0L)
  }

  def epochs(wh: String): Seq[EpochInfo] = {
    val store = new SnapshotStore(spark, wh)
    val last = store.latest().map(_.epoch).getOrElse(-1)
    (0 to last).flatMap { e =>
      store.snapshotAt(e).map { s =>
        val f = Paths.get(wh, "metadata", s"snap-$e.json")
        EpochInfo(e, s, Files.getLastModifiedTime(f).toMillis.toDouble)
      }
    }
  }

  private val Counted = Seq("urls_in", "fetched", "deferred", "new_links",
    "new_suppressed", "candidates_in", "next_frontier")

  /** Per-epoch check record: manifest counts and order-independent
    * fingerprints — (rows, sum of 32-bit hashes, xor of 64-bit hashes) — of
    * the epoch's visited delta and of the next frontier it committed; the
    * last epoch also carries the cumulative links and suppressed sets. All
    * fingerprints come from one Spark job over the published tables.
    */
  def fingerprints(wh: String, eps: Seq[EpochInfo]): Map[Int, Map[String, Seq[Long]]] = {
    if (eps.isEmpty) return Map.empty
    val store = new SnapshotStore(spark, wh)
    val last = eps.last.snap
    def keyed(s: Snapshot, t: String, key: Column, keyCols: String*): Option[DataFrame] =
      if (s.tables(t).totalRows == 0) None
      else Some(store.readTable(s, t).select(keyCols.map(col): _*).distinct()
        .select(key.as("part"), hash(keyCols.map(col): _*).as("h32"),
          xxhash64(keyCols.map(col): _*).as("h64")))
    val parts = Seq(
      keyed(last, "visited", concat(lit("visited:"), col("epoch")), "epoch", "url")
        .map(_.filter(!col("part").startsWith("visited:-"))),
      keyed(last, "links", lit(s"links:${last.epoch}"), "url"),
      keyed(last, "suppressed", lit(s"suppressed:${last.epoch}"), "url")) ++
      eps.map(e => keyed(e.snap, "frontier", lit(s"frontier:${e.epoch}"), "url", "priority"))
    val got = parts.flatten.reduceOption(_ union _).map(_.groupBy("part")
      .agg(count(lit(1)), sum(col("h32").cast("long")), bit_xor(col("h64")))
      .collect().map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap).getOrElse(Map.empty)
    def f(k: String) = got.getOrElse(k, Seq(0L, 0L, 0L))
    eps.map { e =>
      val base = Map(
        "counts" -> Counted.map(e.m),
        "visited" -> f(s"visited:${e.epoch}"),
        "frontier" -> f(s"frontier:${e.epoch}"))
      e.epoch -> (if (e.epoch == last.epoch)
        base ++ Map("links" -> f(s"links:${e.epoch}"),
          "suppressed" -> f(s"suppressed:${e.epoch}"))
      else base)
    }.toMap
  }

  /** One op per reference epoch: failed when the run threw, when the epoch
    * is missing, or when any part of its fingerprint differs.
    */
  def check(rep: Int, sec: Double, err: Option[Throwable],
      got: Map[Int, Map[String, Seq[Long]]],
      expected: Map[Int, Map[String, Seq[Long]]]): Seq[OpRecord] = {
    val all = (expected.keySet ++ got.keySet).toSeq.sorted
    all.map { e =>
      val name = s"epoch$e"
      err match {
        case Some(t) => OpRecord(name, rep, sec, ok = false, Some(Util.describe(t)))
        case None =>
          (got.get(e), expected.get(e)) match {
            case (Some(g), Some(x)) if g == x => OpRecord(name, rep, sec, ok = true, None)
            case (Some(g), Some(x)) =>
              val diff = (g.keySet ++ x.keySet).filter(k => g.get(k) != x.get(k))
              OpRecord(name, rep, sec, ok = false, Some(
                "fingerprint mismatch in " + diff.toSeq.sorted.map(k =>
                  s"$k: got ${g.get(k).map(_.mkString("/")).getOrElse("-")} " +
                    s"expected ${x.get(k).map(_.mkString("/")).getOrElse("-")}")
                  .mkString("; ")))
            case (None, _) => OpRecord(name, rep, sec, ok = false, Some("epoch missing"))
            case (_, None) => OpRecord(name, rep, sec, ok = false, Some("unexpected epoch"))
          }
      }
    }
  }

  // ---- the workload --------------------------------------------------------

  case class Rep(sec: Double, setupSec: Double, eps: Seq[EpochInfo],
      stateBytes: Long, seenUrls: Long, ok: Boolean)

  def execute(): Outcome = {
    val setupSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def prep(tag: String): Prepared = {
      val p = prepare(tag)
      setupSamples += p.setupSec
      p
    }
    val tRun = System.nanoTime()
    val corpusSec = synthesize()
    // reference: the seenDedup=anti path on an identical fresh set-up,
    // outside every timed region; it is also the run's JIT/codegen warm-up
    val refP = prep("reference")
    val (refSec, refErr, _) = run(refP, anti = true, -1)
    refErr.foreach(t => throw new RuntimeException("reference run failed", t))
    val refEps = epochs(refP.wh)
    val (expected0, refCheckSec) = Util.time(fingerprints(refP.wh, refEps))
    val expected =
      if (!a.corruptExpected) expected0
      else expected0.map { case (e, m) =>
        e -> (if (e == 0) m.updated("visited", m("visited").updated(1, m("visited")(1) + 1))
        else m)
      }
    Util.deleteTree(refP.dir)

    val steal0 = Util.stealJiffies()
    val probeBefore = graft.Bench.stealProbe()
    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    val checkSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tMeasure = System.nanoTime()
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
    // the first rep after the reference still warms the seen-store paths:
    // steady_discovery's three reps keep the median on a warm one;
    // revisit_polite's ops are short, and two double its measured work
    val minReps = if (a.tiny) 1 else if (steady) 3 else 2
    val maxReps = 40
    val budget = if (a.trace) a.seconds / 2 else a.seconds
    var timed = 0.0
    while (reps.size < minReps || (timed < budget && reps.size < maxReps)) {
      val i = reps.size
      val p = prep(s"rep$i")
      val (sec, err, _) = run(p, anti = false, -1)
      timed += sec
      val eps = epochs(p.wh)
      // a run that threw may leave tables a fingerprint cannot read
      val (got, checkSec) = Util.time(
        scala.util.Try(fingerprints(p.wh, eps)).getOrElse(Map.empty[Int, Map[String, Seq[Long]]]))
      checkSamples += checkSec
      val repOps = check(i, sec, err, got, expected)
      ops ++= repOps
      val seen = eps.lastOption.map(_.snap.tables("visited").totalRows).getOrElse(0L)
      reps += Rep(sec, p.setupSec, eps, Util.dirBytes(p.wh), seen, repOps.forall(_.ok))
      Util.deleteTree(p.dir)
    }
    val measureSec = Util.secondsSince(tMeasure)
    val probeAfter = graft.Bench.stealProbe()
    val stealDelta = Util.stealJiffies() - steal0

    // a rep with a failed epoch is not a timing (the run reports it as failed)
    val good = reps.filter(_.ok)
    val endToEnd = Map(
      "wall_s" -> Util.medianOrNaN(good.map(_.sec).toSeq),
      "urls_per_s" -> Util.medianOrNaN(good.map(r =>
        r.eps.map(_.m("candidates_in")).sum / r.sec).toSeq),
      "epoch_p50_ms" -> Util.medianOrNaN(good.flatMap(_.eps.map(_.m("wall_ms").toDouble)).toSeq),
      "setup_s" -> Util.median(setupSamples.toSeq),
      "state_bytes_per_url" -> Util.medianOrNaN(good.map(r =>
        r.stateBytes.toDouble / math.max(1L, r.seenUrls)).toSeq))

    val layers = if (a.trace) traced(expected, ops, endToEnd("wall_s")) else Map.empty[String, Double]

    Outcome(ops.toSeq, endToEnd, layers, Map(
      "sizes" -> sizes,
      "reps" -> reps.map(r => Map("wall_s" -> r.sec, "setup_s" -> r.setupSec,
        "epochs" -> r.eps.size,
        "candidates_in" -> r.eps.map(_.m("candidates_in")).sum,
        "epoch_wall_ms" -> r.eps.map(_.m("wall_ms")))),
      "setup_samples_s" -> setupSamples.toSeq,
      "reference_wall_s" -> refSec,
      "corpus_s" -> corpusSec,
      "reference_check_s" -> refCheckSec,
      "check_s" -> checkSamples.toSeq,
      "measure_region_s" -> measureSec,
      "pre_measure_s" -> (tMeasure - tRun) / 1e9,
      "quality" -> Map("steal_jiffies" -> stealDelta,
        "steal_probe_us_before" -> probeBefore,
        "steal_probe_us_after" -> probeAfter)))
  }

  // ---- traced rep + layer replays -----------------------------------------

  private def traced(expected: Map[Int, Map[String, Seq[Long]]],
      ops: scala.collection.mutable.ArrayBuffer[OpRecord],
      untracedWall: Double): Map[String, Double] = {
    val p = prepare("traced")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    spans.enabled = true
    val ((sec, err, runSpan), _) = spans.timed(a.workload, "op", -1) { id =>
      run(p, anti = false, id)
    }
    org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val eps = epochs(p.wh)
    ops ++= check(-1, sec, err, fingerprints(p.wh, eps), expected)
    val runS = spans.all(runSpan)
    // epoch spans from the manifests' publish times
    val epochSpans = eps.map { e =>
      val end = e.commitMs
      val start = math.max(runS.start, end - e.m("wall_ms"))
      (spans.add(s"epoch${e.epoch}", "epoch", start, end, runSpan), start, end)
    }
    listener.jobsIn(runS.start, runS.end).foreach { j =>
      val parent = epochSpans.find(s => j.start >= s._2 && j.start <= s._3)
        .map(_._1).getOrElse(runSpan)
      spans.add(s"job${j.id}", "job", j.start,
        if (j.end.isNaN) j.start else j.end, parent)
    }
    val sparkM = listener.layerMetrics(runS.start, runS.end, eps.size)
    val plansM = plans(eps, sec)
    val replaysM = replays(p, eps, runS.start)
    Util.deleteTree(p.dir)
    sparkM ++ plansM ++ replaysM ++ Map(
      "trace.overhead_s" -> (sec - untracedWall),
      "trace.traced_wall_s" -> sec,
      "trace.untraced_wall_s" -> untracedWall) ++
      CrawlBench.absentCorpusLayers
  }

  private def plans(eps: Seq[EpochInfo], sec: Double): Map[String, Double] = {
    def lap(k: String) = eps.map(_.m(s"ms_$k")).sum.toDouble
    val laps = eps.map(e => e.snap.metrics.filter(_._1.startsWith("ms_")).values.sum).sum
    val wall = eps.map(_.m("wall_ms")).sum.toDouble
    def tot(k: String) = eps.map(_.m(k)).sum.toDouble
    Map(
      "plans.candidates_ms" -> lap("candidates_count"),
      "plans.frontier_chain_ms" -> lap("frontier_write"),
      "plans.state_wait_ms" -> (lap("visited_wait") + lap("links_wait") +
        lap("suppressed_wait") + lap("sketch_merge_wait") +
        lap("links_compact") + lap("seen_compact")),
      "plans.launch_ms" -> (lap("visited_write_launch") + lap("links_write_launch") +
        lap("suppressed_write_launch") + lap("gate_build") + lap("bucket_prune")),
      "plans.epoch_other_ms" -> (wall - laps),
      "plans.run_prologue_ms" -> (sec * 1000 - wall),
      "plans.epochs" -> eps.size.toDouble,
      "plans.urls_in" -> tot("urls_in"),
      "plans.fetched" -> tot("fetched"),
      "plans.deferred" -> tot("deferred"),
      "plans.candidates_in" -> tot("candidates_in"),
      "plans.next_frontier" -> tot("next_frontier"),
      "plans.fetch_ratio" -> tot("fetched") / math.max(1.0, tot("urls_in")),
      "plans.keep_ratio" -> tot("next_frontier") / math.max(1.0, tot("candidates_in")))
  }

  /** Times `f` over repeated passes until ~`minMs` accumulate; returns the
    * median pass time in ns and the last result.
    */
  private def perPass[T](name: String, parent: Int, minMs: Double = 150)(f: => T): (Double, T) = {
    var last: T = f // first pass warms the path
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    spans.timed(name, "replay", parent) { _ =>
      var total = 0.0
      while (times.size < 3 || (total < minMs * 1e6 && times.size < 200)) {
        val t0 = System.nanoTime()
        last = f
        val dt = (System.nanoTime() - t0).toDouble
        times += dt
        total += dt
      }
    }
    (Util.median(times.toSeq), last)
  }

  private def replays(p: Prepared, eps: Seq[EpochInfo], runStartMs: Double): Map[String, Double] = {
    val (_, rootSpan) = spans.timed("replays", "replay", -1)(_ => ())
    val store = new SnapshotStore(spark, p.wh)
    val last = eps.last.snap
    val lastEpoch = last.epoch
    // the sample: up to 1000 of the pages the run fetched, in hash order
    val fetched = store.readTable(last, "visited").filter(col("epoch") >= 0).select("url")
    val sample = pages.join(fetched, "url").select("url", "html")
      .orderBy(xxhash64(col("url"))).limit(1000)
      .as[(String, Array[Byte])].collect()
    val samplePages = math.max(1, sample.length)

    // html
    val (htmlNs, links) = perPass("HtmlExtract.extractLinks", rootSpan) {
      sample.map { case (_, h) => graft.html.HtmlExtract.extractLinks(h) }
    }
    val pm = eps.flatMap(_.snap.partitionMetrics)
    // url
    val pairs = sample.zip(links).flatMap { case ((u, _), hs) => hs.map(h => (u, h)) }
    val (urlNs, cleaned) = perPass("PyUrl.resolveClean", rootSpan) {
      pairs.map { case (u, h) => graft.url.PyUrl.resolveClean(u, h) }
    }
    val kept = cleaned.count(_ != null)
    val perPage = sample.zip(links).map { case ((u, _), hs) =>
      (hs.map(h => graft.url.PyUrl.resolveClean(u, h)).filter(_ != null).distinct.size, hs.size)
    }
    val inDomain = cleaned.filter(u => u != null && graft.url.PyUrl.inDomain(u, Domain)).distinct

    // robots
    val bodies = pages.filter(col("url").endsWith("/robots.txt")).select("html")
      .as[Array[Byte]].collect().map(b => new String(b, UTF_8))
    val robotsM =
      if (bodies.isEmpty) Map("robots.parse_us_per_body" -> 0.0,
        "robots.allowed_ns_per_url" -> 0.0)
      else {
        val (parseNs, parsed) = perPass("Robots.parseAll", rootSpan) {
          bodies.map(graft.robots.Robots.parseAll)
        }
        val rules = parsed.head.rules
        val (allowNs, _) = perPass("Robots.allowed", rootSpan) {
          inDomain.count(u => graft.robots.Robots.allowed(u, rules))
        }
        Map("robots.parse_us_per_body" -> parseNs / 1e3 / bodies.length,
          "robots.allowed_ns_per_url" -> allowNs / math.max(1, inDomain.length))
      }
    val suppressed = eps.map(_.m("new_suppressed")).sum.toDouble
    val candidates = eps.map(_.m("candidates_in")).sum.toDouble

    // sketch: built over the seen set the first epoch's dedup runs against
    // (aged state + the epoch's fetch), probed with the sample's candidates
    val seen0 = store.readTable(last, "visited").filter(col("epoch") <= 0).select("url")
    val expectedTotal = CrawlConfig(Domain).bloomExpectedTotal
    val (sketch, _) = spans.timed("BloomSketch.build", "replay", rootSpan) { _ =>
      Util.time(graft.sketch.BloomSketch.build(seen0.as[String].rdd, expectedTotal))
    }
    val (probeNs, maybe) = perPass("BloomSketch.mightContain", rootSpan) {
      inDomain.count(u => sketch._1.mightContain(u))
    }

    // seen store: replays on a copy of the run's store
    val seenCopy = s"${p.dir}/replay/seenstore"
    Util.copyTree(s"${p.wh}/seenstore", seenCopy)
    val st = new graft.sketch.SeenUrlStore(seenCopy, P)
    val storeFiles = Util.files(seenCopy).count(_.getFileName.toString.endsWith(".seen"))
    val storeBytes = Util.dirBytes(seenCopy)
    val storeUrls = last.tables("visited").totalRows
    val nDelta = math.max(1L, eps.map(_.m("fetched")).sum)
    val (_, writeSec) = Util.time(spans.timed("SeenUrlStore.writeDelta", "replay", rootSpan) { _ =>
      st.writeDelta(spark.range(90000000L, 90000000L + nDelta, 1, P).as[Long]
        .map(i => SiteGen.pageUrl(Domain, Hosts, i)).toDF("url"), lastEpoch + 1)
    })
    val candDf = inDomain.toSeq.toDF("url")
    val (unseen, probeSec) = Util.time(spans.timed("SeenUrlStore.filterUnseen", "replay", rootSpan) { _ =>
      st.filterUnseen(candDf, "url", lastEpoch + 1).count()
    }._1)
    val (_, compactSec) = Util.time(spans.timed("SeenUrlStore.compact", "replay", rootSpan) { _ =>
      st.compact(spark, lastEpoch + 1)
    })
    val compactBytes = Util.files(seenCopy)
      .filter(f => f.getFileName.toString.startsWith("c") && f.getFileName.toString.endsWith(".seen"))
      .map(f => Files.size(f)).sum

    // snapshot: manifest replays on a copy of the metadata directory
    val snapCopy = s"${p.dir}/replay/wh"
    Util.copyTree(s"${p.wh}/metadata", s"$snapCopy/metadata")
    val ss = new SnapshotStore(spark, snapCopy)
    val (latest, latestSec) = Util.time(spans.timed("SnapshotStore.latest", "replay", rootSpan)(_ =>
      ss.latest().get)._1)
    spans.timed("SnapshotStore.snapshotAt", "replay", rootSpan)(_ => ss.snapshotAt(0))
    val (_, commitSec) = Util.time(spans.timed("SnapshotStore.commit", "replay", rootSpan) { _ =>
      ss.commit(lastEpoch + 1, latest.tables, latest.metrics, Some(latest))
    })
    val (_, compactLinksSec) = Util.time(spans.timed("SnapshotStore.compactDistinct", "replay",
      rootSpan)(_ => ss.compactDistinct("links", lastEpoch + 2, latest.tables("links"))))
    // data files the run itself wrote (the bootstrap was written before it)
    val written = Util.files(p.wh).filter(f =>
      !f.getFileName.toString.endsWith(".crc") &&
        Files.getLastModifiedTime(f).toMillis >= runStartMs.toLong)
    val filesRead = eps.map(_.m("pages_files_read")).sum.toDouble
    val filesTotal = eps.map(_.m("pages_files_total")).sum.toDouble

    Map(
      "html.pages" -> pm.map(_.pages).sum.toDouble,
      "html.bytes" -> pm.map(_.bytesHtml).sum.toDouble,
      "html.links_out" -> pm.map(_.linksOut).sum.toDouble,
      "html.parse_errors" -> pm.map(_.parseErrors).sum.toDouble,
      "html.extract_us_per_page" -> htmlNs / 1e3 / samplePages,
      "url.resolve_ns_per_href" -> urlNs / math.max(1, pairs.length),
      "url.kept_ratio" -> kept.toDouble / math.max(1, pairs.length),
      "url.page_distinct_ratio" -> perPage.map(_._1).sum.toDouble /
        math.max(1, perPage.map(_._2).sum),
      "robots.suppressed" -> suppressed,
      "robots.suppressed_ratio" -> suppressed / math.max(1.0, suppressed + candidates),
      "sketch.build_ms" -> sketch._2 * 1000,
      "sketch.probe_ns_per_url" -> probeNs / math.max(1, inDomain.length),
      "sketch.prune_ratio" -> (inDomain.length - maybe).toDouble / math.max(1, inDomain.length),
      "sketch.bytes" -> sketch._1.numBits / 8.0,
      "seenstore.write_ms" -> writeSec * 1000,
      "seenstore.probe_ms" -> probeSec * 1000,
      "seenstore.hit_ratio" -> (inDomain.length - unseen).toDouble / math.max(1, inDomain.length),
      "seenstore.files" -> storeFiles.toDouble,
      "seenstore.bytes_per_url" -> storeBytes.toDouble / math.max(1L, storeUrls),
      "seenstore.compact_ms" -> compactSec * 1000,
      "seenstore.compact_bytes_rewritten" -> compactBytes.toDouble,
      "snapshot.commit_ms" -> commitSec * 1000,
      "snapshot.latest_ms" -> latestSec * 1000,
      "snapshot.files_written" -> written.size.toDouble,
      "snapshot.bytes_written" -> written.map(f => Files.size(f)).sum.toDouble,
      "snapshot.pages_files_read_ratio" ->
        (if (filesTotal > 0) filesRead / filesTotal else 1.0),
      "snapshot.links_compact_ms" -> compactLinksSec * 1000) ++ robotsM
  }
}

object CrawlBench {
  /** Layers the crawl workloads never call. */
  val absentCorpusLayers: Map[String, Double] = Seq(
    "operators.minhash_dedup_s", "operators.simhash_dedup_s",
    "operators.embed_neardup_s", "operators.ann_ivf_s",
    "streaming.stream_dedup_s", "streaming.sessionize_s",
    "multimodal.media_features_s", "textops.lang_quality_s").map(_ -> 0.0).toMap
}
