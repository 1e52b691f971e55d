package graft.plans

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.html.htmlfns._
import graft.plans.planfns._
import graft.robots.Robots
import graft.sketch.{BloomSketch, CuckooSketch, SeenSketch, SeenUrlStore, UrlSketch}
import graft.snapshot.{BucketedPages, SnapshotStore}
import graft.snapshot.SnapshotStore.Snapshot
import graft.url.urlfns._

/** Engine configuration.
  *
  * @param domain          scope suffix (crawler.py:12; O-8 endswith filter)
  * @param budget          per-host per-epoch politeness budget (north_rule);
  *                        None ⇒ ∞ ⇒ reference-exact trace mode (§A.1)
  * @param numPartitions   partition count of the SHUFFLED robots and fetch
  *                        joins (taken only above `broadcastMaxRows`); every
  *                        other exchange, the seen/suppressed store buckets
  *                        included, uses `spark.sql.shuffle.partitions`
  * @param bloomMinSeen    below this seen-set size, skip the sketch entirely
  *                        (the store probe alone is cheaper). The sketch is
  *                        built lazily from the FULL visited set the first
  *                        time this threshold is crossed (and on resume), then
  *                        maintained with per-epoch deltas — so it always
  *                        covers every visited URL (no-false-negative
  *                        invariant).
  * @param bloomExpectedTotal cap on the seen sketch's first build, otherwise
  *                        sized at 2× the seen estimate; an outgrown sketch
  *                        is rebuilt from the full seen set at 2× the running
  *                        estimate (FPP is restored; correctness never depended
  *                        on it — the exact seen check is authoritative). A
  *                        sketch whose table would exceed 256 MiB (the
  *                        broadcast cap) is never built, or is dropped at that
  *                        resize: every candidate then takes the exact store
  *                        probe, which is already bucket-local at any scale
  * @param sketchKind      "bloom" (default) or "cuckoo" — the north_star's
  *                        cuckoo-filter fallback for the URL-seen set
  *                        ([[graft.sketch.SeenSketch]]: deletable membership;
  *                        saturation degrades to always-maybe, never a false
  *                        negative). Both are broadcast
  *                        [[graft.sketch.UrlSketch]]es behind one probe and
  *                        one sizing rule (an outgrown cuckoo is rebuilt too).
  * @param seenDedup       "bucketlocal" (default): the authoritative
  *                        candidates−seen check runs against the
  *                        [[graft.sketch.SeenUrlStore]] sorted shard files —
  *                        bucket-local, no per-epoch re-shuffle of the
  *                        cumulative O(total-crawled) seen set, probe cost
  *                        tracks the CANDIDATES (BASELINE.md's "dedup is
  *                        bucket-local" accounting). The SUPPRESSED set rides
  *                        a second store under the same contract, so
  *                        `disallowed − suppressed-so-far` is a probe too. Both
  *                        stores have one bucket per shuffle partition, so
  *                        the candidates' own url exchange already co-locates
  *                        them and the probe adds no exchange; a resume under
  *                        another shuffle-partition count rebuilds them from
  *                        parquet. "anti": the plain `left_anti` joins against
  *                        the visited/suppressed tables (the differential-test
  *                        reference path); it builds no sketch, writes no
  *                        store deltas, and so clears both stores at run start.
  * @param seenCompactEvery every this many epochs, fold each bucket's seen
  *                        delta shards into one base file (DRUM-style merge;
  *                        probe cost stops growing with epoch count;
  *                        amortized O(seen/every) per epoch; deltas kept for
  *                        exact resume). ≤ 0 disables.
  * @param linksCompactFactor links is an append-only delta table whose
  *                        global distinct is taken at read; when its
  *                        cumulative row count grows past this factor × the
  *                        last compacted size, the epoch commit rewrites it
  *                        as distinct rows (SnapshotStore.compactDistinct) —
  *                        amortized O(total/factor) per epoch, so reads stop
  *                        paying an O(total-ever-appended) scan forever.
  *                        ≤ 0 disables.
  * @param linksCompactMinRows no compaction below this row count (small
  *                        crawls never pay the rewrite).
  * @param broadcastMaxRows row cap for the robots table and for the epoch's
  *                        fetch keys. A robots table within it is collected
  *                        once per run and broadcast as a host map: the
  *                        robots gate and the crawl-delay budgets are
  *                        expressions over it, with no join. Above it the
  *                        table is cached and both joins shuffle on host;
  *                        fetch keys above it take a shuffled join. Shuffled
  *                        joins use `numPartitions` partitions
  * @param depthPriority   O-9 priority = discovery depth (deferred older URLs
  *                        outrank newly discovered ones); false ⇒ constant
  *                        priority, the reference's lexicographic order
  * @param maxEpochs       run only epochs below this index; a later run
  *                        resumes from there
  */
final case class CrawlConfig(
    domain: String,
    budget: Option[Int] = None,
    numPartitions: Int = 32,
    bloomMinSeen: Long = 100000L,
    bloomExpectedTotal: Long = 10000000L,
    sketchKind: String = "bloom",
    seenDedup: String = "bucketlocal",
    seenCompactEvery: Int = 64,
    linksCompactFactor: Double = 3.0,
    linksCompactMinRows: Long = 1000000L,
    broadcastMaxRows: Long = 100000L,
    depthPriority: Boolean = false,
    maxEpochs: Int = Int.MaxValue)

final case class CrawlResult(
    trace: DataFrame, // (epoch, url) — visit order = orderBy(epoch, url) (§A.1)
    links: DataFrame, // (url) — crawler.py all_links equivalent
    visited: DataFrame, // (epoch, url)
    epochs: Int,
    lastSnapshot: Snapshot) {

  /** O-11 parity sink (crawler.py:93-97): sorted unique links, one per
    * line, UTF-8, each line \n-terminated. Single-file output mirrors the
    * reference's links.txt. Note Spark string order is UTF-16 code-unit
    * order; BMP-only corpora make it equal to the reference's code-point
    * sort (SURVEY.md §2 O-11 caveat).
    */
  def saveLinks(path: String): Unit =
    links.orderBy("url").coalesce(1).write.mode("overwrite").text(path)

  /** O-13 trace sink: the "Analizzando:" sequence under the §A.1 canonical
    * order.
    */
  def saveTrace(path: String): Unit =
    trace.select("url").coalesce(1).write.mode("overwrite").text(path)

  /** Sharded links sink for web scale — the parity sink's single write task
    * cannot finish at 10^10 links. Range-partitioned on url and sorted
    * within each shard, so concatenating the part files in name order
    * reproduces the parity sink's bytes exactly (the documented
    * concatenation contract).
    */
  def saveLinksSharded(path: String, shards: Int): Unit =
    links.repartitionByRange(shards, col("url")).sortWithinPartitions("url")
      .write.mode("overwrite").text(path)

  /** Sharded trace sink — the same web-scale contract for the visit trace:
    * range-partitioned on the §A.1 canonical order (epoch, url) and sorted
    * within each shard, so concatenating part files in name order
    * reproduces [[saveTrace]]'s bytes exactly. (10^10 visited URLs cannot
    * funnel through the parity sink's single write task either.)
    */
  def saveTraceSharded(path: String, shards: Int): Unit =
    trace.repartitionByRange(shards, col("epoch"), col("url"))
      .sortWithinPartitions("epoch", "url")
      .select("url")
      .write.mode("overwrite").text(path)
}

object CrawlEngine {
  /** Broadcast cap for the seen sketch: a larger one is never built. */
  private val SketchMaxBytes = 256L << 20
  /** Seen-sketch false-positive rate. */
  private val BloomFpp = 0.01
  /** Pre-aggregation salt buckets of the per-host budget window (hot-host
    * skew mitigation, SURVEY.md §4.3).
    */
  private val SaltBuckets = 16
  /** At or below this frontier size the budget window runs single-phase:
    * one row_number per host. A frontier this small cannot skew a window
    * shuffle, and the salted path costs a second window shuffle + cache per
    * epoch. The fetch/defer sets are identical either way (the salted
    * phase-1 top-K is a superset of the exact per-host top-K).
    */
  private val SaltMinRows = 100000L
  /** Politeness window per epoch, seconds (the oracle's EPOCH_WINDOW_SEC). */
  private val CrawlDelayWindowSec = 60.0

  /** Capacity of a seen-sketch build covering `seen` urls, or None when its
    * table would exceed [[SketchMaxBytes]] (no sketch: the exact store probe
    * takes every candidate). One 2×-headroom rule for bloom and cuckoo: the
    * first build (`capacity` 0) gets 2 × `seen`, capped at `expectedTotal`;
    * a rebuild of a sketch the seen set outgrew gets the larger of 2 × `seen`
    * and 2 × `capacity`.
    */
  private[plans] def sketchCapacity(seen: Long, capacity: Long,
      expectedTotal: Long, cuckoo: Boolean): Option[Long] = {
    val next = if (capacity == 0) math.min(expectedTotal, 2 * seen)
      else math.max(2 * seen, 2 * capacity)
    val bytes = if (cuckoo) CuckooSketch.bytesFor(next)
      else BloomSketch.sizing(next, BloomFpp)._1 / 8
    Option.when(bytes <= SketchMaxBytes)(next)
  }

  /** Python-str `<` = Unicode code-point order (crawler.py:94's sort). Spark
    * string sorts are already code-point order (UTF8_BINARY = UTF-8 byte
    * order — verified incl. astral plane), but Java's String ordering is
    * UTF-16 code-unit order, which differs above U+FFFF — so every
    * driver-side sort must use this ordering instead of `Ordering.String`.
    */
  def codePointCompare(a: String, b: String): Int = {
    var i = 0
    while (i < a.length && i < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(i)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
    }
    Integer.compare(a.length - i, b.length - i)
  }
  val codePointOrdering: Ordering[String] =
    (a: String, b: String) => codePointCompare(a, b)

  /** The action threads, caches and broadcasts a crawl has started and not
    * released. Only the thread that runs the crawl touches it.
    */
  private final class InFlight(sc: SparkContext) {
    private val actions = ArrayBuffer.empty[Future[_]]
    private val caches = ArrayBuffer.empty[DataFrame]
    private val broadcasts = ArrayBuffer.empty[Broadcast[_]]
    /** An action blocks its thread until its job ends: marked `blocking`, it
      * gets a thread of its own rather than queueing on the global pool's
      * one-per-core threads behind other actions.
      */
    def launch[T](body: => T): Future[T] = { val f = Future(blocking(body)); actions += f; f }
    def cache(df: DataFrame): DataFrame = { caches += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    def broadcast[T: ClassTag](value: T): Broadcast[T] = {
      val b = sc.broadcast(value); broadcasts += b; b
    }
    /** Waits for every action, whatever its outcome, then drops every cache
      * and broadcast.
      */
    def release(): Unit = {
      actions.foreach(Await.ready(_, Duration.Inf))
      caches.foreach(_.unpersist())
      broadcasts.foreach(_.destroy())
      actions.clear(); caches.clear(); broadcasts.clear()
    }
  }

  /** The named steps of an epoch over what it starts in `inFlight`. `step`
    * records `ms_<name>`: the span since the previous step (or since the
    * helper was built), so code between two steps counts toward the later
    * one. `launch` starts an action thread and records `ms_<name>_launch`;
    * `await` records `ms_<name>_wait`.
    */
  private final class Steps(inFlight: InFlight) {
    private val start = System.nanoTime()
    private var last = start
    val ms = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def step[T](name: String)(body: => T): T = {
      val out = body
      val now = System.nanoTime()
      ms(s"ms_$name") = (now - last) / 1000000L
      last = now
      out
    }
    def launch[T](name: String)(body: => T): Future[T] =
      step(s"${name}_launch")(inFlight.launch(body))
    def await[T](name: String, f: Future[T]): T =
      step(s"${name}_wait")(Await.result(f, Duration.Inf))
    def wallMs: Long = (System.nanoTime() - start) / 1000000L
  }

  /** The run's seen sketch (O-7b). Once built it covers every url of the
    * authoritative seen set (no false negatives, so skipping the store probe
    * on a sketch miss is exact); once a build would exceed [[SketchMaxBytes]]
    * there is none for the rest of the run (the exact store probe takes every
    * candidate). One in-memory sketch, bloom or the cuckoo fallback, built by
    * per-partition treeAggregate merges (north_star path), rebroadcast per epoch.
    */
  private final class SeenSketchHolder(cuckoo: Boolean, minSeen: Long, expectedTotal: Long) {
    private var built: Option[(UrlSketch, Long)] = None // (sketch, capacity)
    private var disabled = false

    /** The first epoch whose seen estimate `seen` reaches `minSeen` builds
      * the sketch from the FULL seen set `allSeen` (also the resume path);
      * every later epoch folds in only the `fetched` delta. An outgrown
      * sketch (a full bloom answers maybe for nearly everything, a full
      * cuckoo saturates to always-maybe) is rebuilt from the full seen set.
      */
    def advance(seen: Long, fetched: DataFrame, allSeen: DataFrame): Unit = built match {
      case Some((s, cap)) if seen <= cap => merge(s, fetched) // maintain full coverage
      case Some((_, cap)) => build(seen, cap, allSeen)
      case None if !disabled && seen >= minSeen => build(seen, 0L, allSeen)
      case None =>
    }

    private def build(seen: Long, previous: Long, allSeen: DataFrame): Unit = {
      built = sketchCapacity(seen, previous, expectedTotal, cuckoo).map { c =>
        val s = if (cuckoo) new SeenSketch(c) else BloomSketch.forExpected(c, BloomFpp)
        merge(s, allSeen)
        (s, c)
      }
      disabled = built.isEmpty
    }

    private def merge(sketch: UrlSketch, urls: DataFrame): Unit = {
      // few, larger leaf tasks: every treeAggregate leaf ships one
      // full-size sketch, so bound the leaf count rather than the row count.
      // A saturating cuckoo merge degrades the sketch to always-maybe (every
      // row then takes the authoritative check) — never a false negative
      val rdd0 = urls.select("url").as(Encoders.STRING).rdd
      sketch.addAll(if (rdd0.getNumPartitions > 8) rdd0.coalesce(8) else rdd0)
    }

    /** `seen`, skipped on a definite sketch miss of `url`; the broadcast is
      * released with `inFlight`.
      */
    def prune(url: Column, seen: Column, inFlight: InFlight): Column =
      built.fold(seen)(b => might_contain(inFlight.broadcast[UrlSketch](b._1), url) && seen)

    def metrics: Map[String, Long] =
      Map("sketch_capacity" -> built.fold(0L)(_._2), "sketch_bytes" -> built.fold(0L)(_._1.bytes))
  }
}

/** Distributed level-synchronous BFS crawl over a pages table — the Spark
  * re-expression of crawler.py's worker loop (SURVEY.md §3.4). One epoch =
  * one deterministic job chain:
  *
  *   frontier(e) → politeness window (budget, salted two-phase)
  *              → fetch left-join pages on url
  *              → ExtractHrefs → explode → UrlResolve → scheme filter → CleanUrl
  *              → links delta (anti-join links)
  *              → in-domain filter → robots gate (run-scoped broadcast)
  *              → ∪ deferred → sketch-pruned seen-store filter
  *              → frontier(e+1); snapshot commit
  *
  * State (visited / links / suppressed) is append-only parquet deltas under
  * the snapshot store; every epoch's outputs are written once and re-read
  * from disk, truncating lineage and making resume exact.
  *
  * The robots policy, the seen sketch and the stores' starting point are
  * decided once per run. An epoch then runs as named steps, each timed into
  * its manifest as `ms_<step>`: visited_write_launch (politeness split),
  * bucket_prune, links_write_launch (fetch join + extract), gate_build,
  * suppressed_write_launch, sketch_merge_wait (candidates + sketch),
  * frontier_write (seen filter), visited_wait, links_wait, suppressed_wait,
  * and in the epochs that compact, links_compact and seen_compact.
  *
  * `run()` sets `spark.sql.adaptive.enabled` false on the session and
  * restores the caller's value when it returns or throws. The engine sizes
  * its exchanges itself (store buckets = shuffle partitions, broadcast
  * caps, salting), and AQE's per-stage jobs more than doubled a small
  * epoch's job count, each paying job latency. Without AQE nothing
  * coalesces, so every epoch shuffle runs `spark.sql.shuffle.partitions`
  * tasks; on a 4-core host a budgeted robots crawl still ran faster
  * without AQE at 1, 16 and 64 shuffle partitions per core.
  */
final class CrawlEngine(spark: SparkSession, config: CrawlConfig) {
  import spark.implicits._
  import CrawlEngine._

  private val P = config.numPartitions

  /** robots.txt rules per host, parsed once from the pages table. One row
    * per host: when both http://h/robots.txt and https://h/robots.txt exist,
    * the https body wins (then first-by-url) — duplicate host keys would
    * fan out the left join and let one URL take both the allowed and the
    * suppressed path.
    */
  def robotsTable(pages: DataFrame): DataFrame = {
    val raw = pages
      .filter(col("url").endsWith("/robots.txt"))
      .select(col("url"), col("html"))
      .as[(String, Array[Byte])]
    val parsed = raw.flatMap { case (url, html) =>
      if (html == null) None
      else {
        val p = graft.url.PyUrl.urlparse(url)
        if (p.path != "/robots.txt") None
        else {
          val body = new String(html, java.nio.charset.StandardCharsets.UTF_8)
          val parsed = graft.robots.Robots.parseAll(body)
          Some((graft.robots.Robots.hostKey(url), url,
            parsed.rules.map(_.prefix).toArray,
            parsed.rules.map(_.allow).toArray,
            parsed.crawlDelay))
        }
      }
    }.toDF("host", "src_url", "prefixes", "allows", "crawl_delay")
    parsed
      .withColumn("__r", row_number().over(Window.partitionBy("host")
        .orderBy(col("src_url").startsWith("https://").desc, col("src_url"))))
      .filter(col("__r") === 1)
      .select("host", "prefixes", "allows", "crawl_delay")
  }

  /** Per-host budget gate: salted two-phase top-K so one hot host cannot
    * serialize the window shuffle. Phase 1 ranks within (host, salt) — the
    * global per-host top-K is a subset of the per-salt top-Ks — phase 2
    * ranks the ≤ K·S survivors exactly. Returns fetchNow and the deferred
    * rows, None when no window runs (nothing is then deferred). `cache`
    * persists the window frames.
    *
    * `withDelayBudget` adds a `delay_budget` column — derived from robots
    * crawl-delay — that tightens the per-host cap to min(configured,
    * delay_budget); hosts without one (null or `Long.MaxValue`) keep the
    * configured budget (or no cap). The budget is a per-host CONSTANT, so
    * the salted phase-1 top-K remains a superset of the exact per-host top-K.
    */
  private def politenessSplit(frontier: DataFrame,
      withDelayBudget: Option[DataFrame => DataFrame], frontierCount: Long,
      cache: DataFrame => DataFrame): (DataFrame, Option[DataFrame]) = {
    if (config.budget.isEmpty && withDelayBudget.isEmpty) return (frontier, None)
    // priority-queue order (O-9): (priority asc, url asc). Trace-match
    // mode uses constant priority, which degenerates to the SURVEY §A.1
    // lexicographic contract.
    val withB = withDelayBudget.fold(frontier.withColumn("__b", lit(config.budget.get.toLong))) {
      addBudget =>
        val delayCap = coalesce(col("delay_budget"), lit(Long.MaxValue))
        addBudget(frontier).withColumn("__b", config.budget
          .map(cb => least(delayCap, lit(cb.toLong))).getOrElse(delayCap)).drop("delay_budget")
    }
    if (frontierCount <= SaltMinRows) {
      // single-phase: one exact per-host ranking by (priority, url)
      val r = cache(withB.withColumn("r",
        row_number().over(Window.partitionBy("host").orderBy("priority", "url"))))
      val fetchNow = r.filter(col("r") <= col("__b")).select("url", "host", "priority")
      val defer = r.filter(col("r") > col("__b")).select("url", "host", "priority")
      return (fetchNow, Some(defer))
    }
    val salted = withB.withColumn(
      "salt", pmod(xxhash64(col("url")), lit(SaltBuckets)))
    val r1 = cache(salted.withColumn("r1",
      row_number().over(Window.partitionBy("host", "salt").orderBy("priority", "url"))))
    val survivors = r1.filter(col("r1") <= col("__b"))
    val r2 = cache(survivors.withColumn("r2",
      row_number().over(Window.partitionBy("host").orderBy("priority", "url"))))
    val fetchNow = r2.filter(col("r2") <= col("__b")).select("url", "host", "priority")
    val defer = r1.filter(col("r1") > col("__b")).select("url", "host", "priority")
      .union(r2.filter(col("r2") > col("__b")).select("url", "host", "priority"))
    (fetchNow, Some(defer))
  }

  /** Single-seed form (crawler.py:13 — seed = https://domain). */
  def run(pages: DataFrame, seedUrl: String, warehouse: String): CrawlResult =
    run(pages, Seq(seedUrl), warehouse)

  def run(pages: DataFrame, seedUrls: Seq[String], warehouse: String): CrawlResult =
    runSource(() => pages, None, seedUrls, warehouse)

  /** Bucket-manifest pages source: each epoch's fetch join pre-selects data
    * files against the frontier's bucket set before spark.read — the scan
    * cost tracks the FRONTIER, not the corpus (the 100-TB fetch-join story;
    * BASELINE.md 10^10 accounting).
    */
  def run(pages: BucketedPages, seedUrl: String, warehouse: String): CrawlResult =
    run(pages, Seq(seedUrl), warehouse)

  def run(pages: BucketedPages, seedUrls: Seq[String], warehouse: String): CrawlResult =
    runSource(() => pages.full, Some(pages), seedUrls, warehouse)

  /** Run the crawl to fixpoint (≡ queue.join(), crawler.py:85) from a SEED
    * LIST (north_star: "given the same seed list"), committing a snapshot
    * per epoch under `warehouse`. Resumes from the newest valid snapshot if
    * one exists. Epoch-0 frontier = sorted distinct allowed seeds.
    *
    * `pagesPlain` is a THUNK: a bucketed run never materializes the
    * whole-table frame (whose spark.read eagerly lists every data file on
    * the driver — the manifest makes that listing unnecessary).
    */
  private def runSource(pagesPlain: () => DataFrame, bucketed: Option[BucketedPages],
      seedUrls: Seq[String], warehouse: String): CrawlResult = {
    val aqe = "spark.sql.adaptive.enabled"
    val callerAqe = spark.conf.getAll.get(aqe)
    spark.conf.set(aqe, false)
    // what the run and its current epoch have started: when the run returns
    // or throws, no action thread it launched is still running and no cache
    // it made is still registered
    val (perRun, perEpoch) = (new InFlight(spark.sparkContext), new InFlight(spark.sparkContext))
    try crawl(pagesPlain, bucketed, seedUrls, warehouse, perRun, perEpoch)
    finally {
      perEpoch.release()
      perRun.release()
      callerAqe.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
    }
  }

  /** How the run applies robots.txt, decided once: no rules, a rule table
    * within `broadcastMaxRows` broadcast as a host map, or a larger one
    * cached and joined shuffled on host. `source` holds the pages that may
    * be robots.txt files; `manifestCount` is a bucket manifest's count of
    * them, when the source has one. Returns the gate, which adds the boolean
    * `allowed` column to (url, host) rows (None: every url is allowed and
    * nothing is suppressed); the crawl-delay budget, which adds the per-host
    * `delay_budget` (None: no crawl delays); and the seed hosts' rules, which
    * only a bootstrap asks for.
    */
  private def robotsPolicy(source: DataFrame, manifestCount: Option[Int], seedUrls: Seq[String],
      perRun: InFlight): (Option[DataFrame => DataFrame],
      Option[DataFrame => DataFrame], () => Map[String, Seq[Robots.Rule]]) = {
    // url-only robots existence probe: parsing robots needs the html column,
    // and a predicate on url cannot row-group-prune an endsWith match — so a
    // corpus with NO robots.txt files would pay a full url+html scan just to
    // learn that. Probe the url column alone first (a few % of the bytes;
    // superset filter of robotsTable's exact path=="/robots.txt" check) and
    // parse only when candidates exist.
    // a bucket-manifest source narrows further: its robots-bucket stat was
    // computed at adoption with the SAME superset filter, so the probe job is
    // skipped entirely — the manifest already knows the answer
    val mayExist = manifestCount.fold(
      source.filter(col("url").endsWith("/robots.txt")).select("url").count() > 0)(_ > 0)
    // The robots table, parsed once per run. One job brings at most
    // broadcastMaxRows + 1 of its rows to the driver. A table within the cap
    // is broadcast once as a host map: the gate, the crawl-delay budgets and
    // the seed rules all read it, and no epoch plans a broadcast of its own.
    // A larger one is cached, and the gate and the budgets join it shuffled
    // on host. No robots rows (the common case) ⇒ the gate is a constant-true
    // filter and the whole suppression machinery is skipped.
    lazy val table = robotsTable(source)
    // through `.rdd` the limit is planned as one job (a collect() of a
    // limit takes its rows in rounds of partitions, one job per round). At
    // least one row, so that under a negative cap a table with rules is
    // still told from an empty one: it takes the cached path
    val n = math.max(1L, math.min(config.broadcastMaxRows, Int.MaxValue - 1L) + 1)
    val rows = if (!mayExist) Array.empty[RobotsRules.Row]
      else table.limit(n.toInt).as[RobotsRules.Row].rdd.collect()
    // robots crawl-delay → per-host politeness budget (SURVEY §1.2 schema):
    // delay d caps a host at max(1, int(window // d)) fetches per epoch with
    // CPython floordiv semantics (Robots.pyFloorDiv — floor(window/d) of the
    // ROUNDED double quotient is off by one for thousands of representable
    // delays). NaN needs the explicit isnan guard: Spark SQL orders NaN
    // greater than every value, so `NaN > 0.0` is TRUE here while Python's
    // `nan > 0` is False (no cap); +inf passes both and caps at 1.
    if (rows.isEmpty) (None, None, () => Map.empty)
    else if (rows.length <= config.broadcastMaxRows) {
      val rules = RobotsRules(rows.toSeq, CrawlDelayWindowSec)
      val b = perRun.broadcast(rules)
      (Some(_.withColumn("allowed", robots_gate(b, col("host"), col("url")))),
        Option.when(rules.hasDelays)(
          _.withColumn("delay_budget", robots_delay_budget(b, col("host")))),
        () => rules.rules)
    } else {
      // a web-scale rule table (10^8 hosts) is a shuffled equi-join on host
      val rt = perRun.cache(table)
      val db = perRun.cache(rt
        .filter(col("crawl_delay") > 0.0 && !isnan(col("crawl_delay")))
        .select(col("host"),
          crawl_delay_budget(col("crawl_delay"), CrawlDelayWindowSec).as("delay_budget")))
      (Some(_.join(rt.repartition(P, col("host")), Seq("host"), "left")
          .withColumn("allowed",
            coalesce(robots_allowed(col("url"), col("prefixes"), col("allows")), lit(true)))),
        Option.when(db.count() > 0)(
          _.join(db.repartition(P, col("host")), Seq("host"), "left")),
        // seed gating needs rules only to bootstrap, and only for the SEED
        // hosts: the table is semi-joined before collecting, so a 10^8-host
        // robots table never reaches the driver
        () => RobotsRules(rt.join(broadcast(seedUrls.map(Robots.hostKey).distinct.toDF("host")),
          Seq("host"), "left_semi").as[RobotsRules.Row].collect().toSeq,
          CrawlDelayWindowSec).rules)
    }
  }

  /** The epoch "-1" bootstrap snapshot: the epoch-0 frontier is the sorted
    * distinct allowed seeds, the robots-blocked seeds are suppressed, and the
    * other tables start empty. The four tiny writes are independent — run
    * them concurrently so the bootstrap pays one job latency, not four
    * (guide §2.6).
    */
  private def bootstrap(store: SnapshotStore, seedUrls: Seq[String],
      seedRules: Map[String, Seq[Robots.Rule]], suppressedStore: Option[SeenUrlStore],
      perRun: InFlight): Snapshot = {
    val (allowedSeeds, blockedSeeds) = seedUrls.distinct
      .sorted(codePointOrdering)
      .partition(u => Robots.allowed(u, seedRules.getOrElse(Robots.hostKey(u), Nil)))
    val writes = Seq(
      "frontier" -> perRun.launch(store.writeDelta("frontier", 0,
        allowedSeeds.map(u => (u, Robots.hostKey(u), 0L)).toDF("url", "host", "priority"),
        None, fullRewrite = true)),
      "visited" -> perRun.launch(store.writeDelta("visited", -1,
        Seq.empty[(Int, String)].toDF("epoch", "url"), None)),
      "links" -> perRun.launch(
        store.writeDelta("links", -1, Seq.empty[String].toDF("url"), None)),
      "suppressed" -> perRun.launch {
        def write(df: DataFrame) = store.writeDelta("suppressed", -1, df, None)
        val rows = blockedSeeds.toDF("url")
        suppressedStore.fold(write(rows))(_.writeWith(rows, "url", -1)(write))
      })
    store.commit(-1, writes.map { case (t, f) => t -> Await.result(f, Duration.Inf) }.toMap,
      Map("seed" -> 1L))
  }

  private def crawl(pagesPlain: () => DataFrame, bucketed: Option[BucketedPages],
      seedUrls: Seq[String], warehouse: String, perRun: InFlight,
      perEpoch: InFlight): CrawlResult = {
    lazy val pages: DataFrame = pagesPlain()
    val store = new SnapshotStore(spark, warehouse)
    require(config.seenDedup == "bucketlocal" || config.seenDedup == "anti",
      s"unknown seenDedup '${config.seenDedup}' (bucketlocal|anti)")
    require(config.sketchKind == "bloom" || config.sketchKind == "cuckoo",
      s"unknown sketchKind '${config.sketchKind}' (bloom|cuckoo)")
    val useSeenStore = config.seenDedup == "bucketlocal"
    // one bucket per shuffle partition: the store probes' repartition then
    // matches the candidates' own url exchange and the planner drops it
    val storeBuckets = spark.sessionState.conf.numShufflePartitions
    val seenStore = new SeenUrlStore(s"$warehouse/seenstore", storeBuckets)
    // the suppressed set rides a second store under the same contract, so
    // disallowed − suppressed-so-far is a probe, not an O(cumulative-state)
    // anti-join shuffle
    val suppressedStore = new SeenUrlStore(s"$warehouse/suppressedstore", storeBuckets)
    val latest = store.latest()
    // an anti run writes no store deltas, so it starts both stores empty
    val resumeEpoch = latest.filter(_ => useSeenStore).map(_.epoch)
    for ((st, table) <- Seq(seenStore -> "visited", suppressedStore -> "suppressed"))
      st.prepare(spark.sparkContext.hadoopConfiguration, resumeEpoch)(latest
        .filter(_.tables(table).totalRows > 0).map(store.readTable(_, table).select("url")))
    val (robotsGate, delayBudget, seedRules) =
      robotsPolicy(bucketed.fold(pages)(_.robotsCandidates),
        bucketed.flatMap(_.robotsBucketCount), seedUrls, perRun)

    var snapshot = latest.getOrElse(bootstrap(store, seedUrls, seedRules(),
      Option.when(useSeenStore)(suppressedStore), perRun))
    var frontier = store.readTable(snapshot, "frontier")
    var epoch = snapshot.epoch + 1
    // exact with no job: the frontier is rewritten whole each epoch, and
    // its write sums the row counts of the parquet footers
    var frontierCount = snapshot.tables("frontier").totalRows
    // the page buckets of this epoch's frontier, a superset of its fetch's
    // (the politeness gate only removes rows): one job at run start, later
    // epochs observe them on the frontier write
    var fetchBuckets = bucketed.fold(Set.empty[Int])(bp =>
      frontier.select(bp.bucketExpr(col("url"))).distinct().as[Int].collect().toSet)

    // links-compaction base: the row count the table last held in compacted
    // (or first-delta) form; persisted in the manifest metrics so resume
    // keeps the amortization schedule
    var linksBaseRows = snapshot.metrics.getOrElse("links_base_rows", 0L)
    val sketch = new SeenSketchHolder(config.sketchKind == "cuckoo",
      config.bloomMinSeen, config.bloomExpectedTotal)

    while (frontierCount > 0 && epoch < config.maxEpochs) {
      val steps = new Steps(perEpoch)
      val visitedSoFar = store.readTable(snapshot, "visited")
      val visitedRows = snapshot.tables("visited").totalRows

      // 1. politeness gate. The frontier parquet was hash-distributed at
      // write time; no re-shuffle here — the budget window (when enabled)
      // shuffles by (host, salt) itself.
      val (fetchNow, deferred) = politenessSplit(frontier,
        delayBudget, frontierCount, perEpoch.cache)

      // 2. visited delta = fetched this epoch. fetchNow reads straight from
      // the frontier manifest files (1-hop lineage), so the write runs
      // CONCURRENTLY with extraction on a separate action thread. The exact
      // seen index gets the SAME delta (O(epoch) rows — the only state that
      // is new) from the parquet write's own tasks, with no job of its own;
      // its sorted shard files must exist before this epoch's dedup probe,
      // which awaits this write.
      val vStateF = steps.launch("visited_write") {
        val rows = fetchNow.select(lit(epoch).as("epoch"), col("url"))
        def write(df: DataFrame) =
          store.writeDelta("visited", epoch, df, Some(snapshot.tables("visited")))
        if (useSeenStore) seenStore.writeWith(rows, "url", epoch)(write) else write(rows)
      }

      // 3. fetch join + extract + clean (crawler.py:30-42). INNER join is
      // semantics-preserving: visited-marking happened above (step 2) and a
      // missing page row contributes an empty link set either way
      // (crawler.py:45-46). Small epochs broadcast the frontier side and
      // stream the pages scan (no pages shuffle); huge epochs fall back to a
      // join shuffled into `numPartitions` partitions.
      //
      // Bucket-manifest pruning (the 100-TB lever, no job of its own): a
      // BucketedPages scan reads ONLY the data files of `fetchBuckets` — an
      // epoch touching 1% of buckets reads 1% of the corpus, not all of it.
      val pagesForEpoch = steps.step("bucket_prune")(
        bucketed.fold(pages)(_.scanBuckets(fetchBuckets)))
      val fetchKeys =
        if (frontierCount <= config.broadcastMaxRows)
          broadcast(fetchNow.select("url"))
        else fetchNow.select("url").repartition(P, col("url"))
      val fetched = pagesForEpoch.select("url", "html").join(fetchKeys, Seq("url"))
      // per-partition fetch/extract metrics (§1.2 schema) ride the extraction
      // expression itself as an accumulator — no extra pass, no extra job;
      // fresh per epoch so each snapshot reports its own partitions
      val extractAcc = new graft.html.ExtractMetricsAcc
      spark.sparkContext.register(extractAcc, s"extract_metrics_e$epoch")
      val cleanLinks = perEpoch.cache(fetched
        .select(col("url").as("page_url"),
          explode_outer(extract_hrefs_metered(col("html"), extractAcc)).as("href"))
        .filter(col("href").isNotNull)
        .select(graft.url.urlfns2.resolve_clean(col("page_url"), col("href")).as("url"))
        .filter(col("url").isNotNull) // null = scheme-filtered (O-5)
        .distinct())

      // 4. links delta (O-10): append this epoch's per-epoch-distinct links;
      // the global distinct is taken once at read time (distinct of unions ==
      // union of distincts for set semantics) — avoids an O(|links|) anti-join
      // shuffle per epoch. Runs on its own action thread, OVERLAPPED with the
      // gates/frontier chain below: the two consumers share the persisted
      // cleanLinks cache (per-partition block locking makes the concurrent
      // materialization safe), and lState is only needed at commit. At small
      // epochs this halves the per-epoch fixed job latency; at scale the two
      // jobs pipeline on free task slots.
      val lStateF = steps.launch("links_write")(
        store.writeDelta("links", epoch, cleanLinks, Some(snapshot.tables("links"))))

      // 5. in-domain + robots gates
      val inDom = cleanLinks
        .filter(url_in_domain(col("url"), lit(config.domain)))
        .withColumn("host", host_key(col("url")))
      val gated = steps.step("gate_build")(robotsGate
        .fold(inDom.withColumn("allowed", lit(true)))(gate => perEpoch.cache(gate(inDom))))
      // the suppressed write overlaps the candidates chain and the frontier
      // write below (the same action-thread pattern as visited/links: both
      // consumers share the persisted `gated` cache, and only the commit
      // awaits it). Synchronous, this cost ~0.7 s/epoch on robots crawls.
      // Bucket-local path: `disallowed − suppressed-so-far` is a shard probe
      // against the suppressed store (upToEpoch = e−1), not a left_anti over
      // the CUMULATIVE suppressed set — the probe cost tracks this epoch's
      // disallowed rows, not the crawl's age. The probe leaves the rows
      // partitioned by (buckets, url), so the store delta rides the parquet
      // write's tasks with no exchange. No distinct is needed on the store
      // path: cleanLinks is distinct and the gates only filter, so urls are
      // unique by construction (the anti path keeps the reference left_anti
      // + distinct shape for the differential).
      val sStateF = steps.step("suppressed_write_launch")(
        if (robotsGate.isEmpty)
          Future.successful(snapshot.tables("suppressed").copy(deltaRows = 0L))
        else perEpoch.launch {
          val disallowed = gated.filter(!col("allowed")).select("url")
          def write(df: DataFrame) =
            store.writeDelta("suppressed", epoch, df, Some(snapshot.tables("suppressed")))
          if (useSeenStore)
            suppressedStore.writeWith(
              suppressedStore.filterUnseen(disallowed, "url", epoch - 1), "url", epoch)(write)
          else {
            val soFar = store.readTable(snapshot, "suppressed").select("url")
            write(disallowed.join(soFar, Seq("url"), "left_anti").distinct())
          }
        })

      // 6. next frontier = (allowed ∪ deferred) − visited(≤e).
      // O-9 priority: discovery depth when depthPriority (deferred older URLs
      // outrank newly discovered ones in the (priority, url) schedule);
      // constant 0 in trace-match mode (reference FIFO ⇒ exact). A URL both
      // deferred and rediscovered keeps its MINIMUM priority — groupBy-min
      // rather than dropDuplicates, whose surviving row is nondeterministic.
      val newPriority = if (config.depthPriority) (epoch + 1).toLong else 0L
      // grouping is by url ALONE (host is a pure function of url on every
      // input row — frontier rows were keyed with the same host_key — so
      // the groups are identical and host is recomputed after the agg):
      // the links-distinct upstream already hash-partitioned by url, and
      // with no deferred union in the plan Catalyst reuses that exchange —
      // the candidate set crosses the wire once, not twice, per epoch, and
      // the rows that do cross carry (url, priority) only
      val base = gated.filter(col("allowed"))
        .select(col("url"), lit(newPriority).as("priority"))
      // no deferred union ⇒ base's urls are ALREADY distinct (cleanLinks is
      // distinct, the gates only filter) and priority is a constant, so the
      // groupBy-min is an identity — skip its aggregate pair outright.
      // The BASELINE.json metric numerator (URLs scheduled + entering dedup)
      // is observed on the frontier write, the candidates' only consumer
      val candidatesObs = new Observation()
      val candidates = deferred.fold(base)(d => base.union(d.select("url", "priority"))
          .groupBy(col("url"))
          .agg(min(col("priority")).as("priority")))
        .select(col("url"), host_key(col("url")).as("host"), col("priority"))
        .observe(candidatesObs, count(lit(1)).as("n"))
      val visitedAll = visitedSoFar.select("url")
        .union(fetchNow.select("url"))
      // the sketch merge's whole decision tree depends only on pre-epoch
      // state (seen estimate, the sketch itself); its job runs here while
      // the visited, links and suppressed writes run on their action
      // threads. The sketch only prunes store probes, so an anti run builds
      // none.
      steps.step("sketch_merge_wait") {
        val seenCountNow = visitedRows + frontierCount // upper bound estimate
        if (useSeenStore) sketch.advance(seenCountNow, fetchNow, visitedAll)
      }
      // next = candidates − seen(≤ e). No candidate is suppressed: robots
      // rules are parsed once per run, and a candidate is a link that passed
      // the same per-host longest-match gate (or a deferred row, which came
      // in that way or as an allowed seed). Bucket-local: one
      // repartition(storeBuckets, url) — dropped by the planner when the
      // candidates' own url exchange already matches it — and ONE filter.
      // The broadcast sketch prunes (a definite miss skips the store probe)
      // and the seen-store probe is authoritative (this epoch's delta covers
      // fetchNow, so probing up to `epoch` equals the visited∪fetchNow
      // anti-join). `anti` is the plain left_anti reference.
      // Over bucketed pages the write also collects the next frontier's
      // bucket set (a metric of the write's own tasks, no job of its own).
      val nextBuckets = new Observation()
      val fState = steps.step("frontier_write") {
        val next =
          if (useSeenStore) {
            // this epoch's shard files must be on disk before the probe job
            // runs: the visited write writes them
            Await.result(vStateF, Duration.Inf)
            val url = col("url")
            candidates.repartition(storeBuckets, url)
              .filter(!sketch.prune(url, seenStore.seen(url, epoch), perEpoch))
          } else candidates.join(visitedAll, Seq("url"), "left_anti")
        store.writeDelta("frontier", epoch + 1,
          bucketed.fold(next)(bp =>
            next.observe(nextBuckets, collect_set(bp.bucketExpr(col("url"))).as("b"))),
          Some(snapshot.tables("frontier")), fullRewrite = true)
      }
      // with it the seen-index delta is durable before this epoch commits (an
      // anti run's dedup chain does not await it)
      val vState = steps.await("visited", vStateF)
      val lStateRaw = steps.await("links", lStateF)
      val sState = steps.await("suppressed", sStateF)
      // threshold-triggered links compaction (amortized: only when the delta
      // pile outgrows the last compacted size by linksCompactFactor)
      val doCompact = config.linksCompactFactor > 0 && linksBaseRows > 0 &&
        lStateRaw.totalRows >= config.linksCompactMinRows &&
        lStateRaw.totalRows >= (config.linksCompactFactor * linksBaseRows).toLong
      val lState =
        if (doCompact) steps.step("links_compact")(store.compactDistinct("links", epoch, lStateRaw))
        else lStateRaw
      if (linksBaseRows == 0 || doCompact) linksBaseRows = lState.totalRows
      // periodic seen-shard merge (amortized; the per-epoch delta for this
      // epoch is already on disk via vStateF)
      val seenCompacted = useSeenStore && config.seenCompactEvery > 0 &&
        epoch > 0 && epoch % config.seenCompactEvery == 0
      if (seenCompacted) steps.step("seen_compact") {
        seenStore.compact(spark, epoch)
        // the suppressed index follows the same DRUM schedule (it is the
        // same store mechanism over the other cumulative url set)
        if (sState.totalRows > 0) suppressedStore.compact(spark, epoch)
      }
      // extraction accumulator is final here: both cleanLinks consumers
      // (links write + frontier chain) are awaited above, so every cached
      // partition has been materialized exactly once
      val pmetrics = extractAcc.value.toSeq.sortBy(_._1).map { case (pid, s) =>
        SnapshotStore.PartitionMetric(pid, s.pages, s.bytesHtml, s.linksOut,
          s.parseErrors)
      }
      snapshot = store.commit(epoch, Map(
        "frontier" -> fState, "visited" -> vState,
        "links" -> lState, "suppressed" -> sState),
        metrics = Map(
          "urls_in" -> frontierCount,
          "fetched" -> vState.deltaRows,
          "deferred" -> (frontierCount - vState.deltaRows),
          "new_links" -> lState.deltaRows,
          "new_suppressed" -> sState.deltaRows,
          "candidates_in" -> candidatesObs.get("n").asInstanceOf[Long],
          "next_frontier" -> fState.deltaRows,
          "seen_bucketlocal" -> (if (useSeenStore) 1L else 0L),
          "links_base_rows" -> linksBaseRows,
          "links_compacted" -> (if (doCompact) 1L else 0L),
          "seen_compacted" -> (if (seenCompacted) 1L else 0L),
          "pages_hit" -> pmetrics.map(_.pages).sum,
          "bytes_html" -> pmetrics.map(_.bytesHtml).sum,
          "links_out" -> pmetrics.map(_.linksOut).sum,
          "parse_errors" -> pmetrics.map(_.parseErrors).sum,
          "wall_ms" -> steps.wallMs) ++ sketch.metrics ++ steps.ms ++
          bucketed.fold(Map.empty[String, Long])(bp => Map(
            "pages_files_read" -> bp.filesFor(fetchBuckets).size.toLong,
            "pages_files_total" -> bp.totalFiles.toLong)),
        parent = Some(snapshot),
        partitionMetrics = pmetrics)

      perEpoch.release()
      frontier = store.readTable(snapshot, "frontier")
      frontierCount = fState.deltaRows
      if (bucketed.isDefined)
        fetchBuckets = nextBuckets.get("b").asInstanceOf[collection.Seq[Int]].toSet
      epoch += 1
    }

    val visited = store.readTable(snapshot, "visited")
    CrawlResult(
      trace = visited.orderBy("epoch", "url"),
      links = store.readTable(snapshot, "links").distinct(),
      visited = visited,
      epochs = epoch,
      lastSnapshot = snapshot)
  }
}
