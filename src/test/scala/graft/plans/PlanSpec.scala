package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.url.urlfns._

/** Physical-plan quality gates (SURVEY.md §4.2): predicate pushdown, column
  * pruning, whole-stage codegen over the custom expressions, and broadcast
  * join selection. These are the properties the 100 TB design depends on —
  * pinned as tests so regressions surface immediately.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private val sfDir = "/root/testdata/sf0.001"

  test("filter + projection reach the parquet scan (PushedFilters, ReadSchema)") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = formatted(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("custom URL expressions run inside WholeStageCodegen") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(concat(lit("https://example.com/d/"), col("doc_id")).as("url"))
      .select(clean_url(col("url")).as("c"), url_host(col("url")).as("h"))
      .filter(url_scheme(col("url")) === "https")
    val plan = formatted(df)
    // the Project/Filter containing our expressions must carry a codegen id
    val projLine = plan.linesIterator.find(_.matches(".*Project \\[codegen id : \\d+\\].*"))
    assert(projLine.isDefined, plan)
    assert(plan.contains("cleanurl"), plan)
    val filterLine = plan.linesIterator.find(_.matches(".*Filter \\[codegen id : \\d+\\].*"))
    assert(filterLine.isDefined, plan)
  }

  test("small dimension join is a BroadcastHashJoin") {
    val plan = formatted(
      graft.SparkEntry.queries("q_join_cust_orders")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("seen-set dedup is an anti join keyed on url") {
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val plan = formatted(
      e.select(col("user_id")).distinct()
        .join(e.filter(col("event_type") === "x").select("user_id"),
          Seq("user_id"), "left_anti"))
    assert(plan.contains("LeftAnti"), plan)
  }

  test("minhash LSH shuffles ids only: no array column in band/pair exchanges") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // at sf0.001 the planner would broadcast everything — force the shuffle
    // plan shape that a 100 TB corpus would get
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // keep exchanges inspectable
    val exchanges =
      try {
        val df = graft.operators.Dedup.minHashLsh(docs, "doc_id", "text",
          shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
        df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    def keys(e: ShuffleExchangeExec): Set[String] = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet
      case _                   => Set.empty
    }
    val bandExchanges = exchanges.filter(e => keys(e).intersect(Set("band", "bucket")).nonEmpty)
    assert(bandExchanges.nonEmpty, "expected a band-bucket exchange")
    // the LSH proposal and pair-dedup shuffles must carry no shingle arrays —
    // arrays cross the wire only once, keyed by id in the per-pair re-join
    for (e <- exchanges if keys(e).intersect(Set("band", "bucket")).nonEmpty ||
        keys(e) == Set("a", "b")) {
      assert(!e.output.exists(_.dataType.isInstanceOf[ArrayType]),
        s"array column shuffled in ${keys(e)} exchange: ${e.output.map(a => a.name -> a.dataType)}")
    }
  }

  test("fetch join reuses the cached pages partitioning: html is never re-shuffled") {
    // the Bench/CrawlEngine fetch shape: pages cached pre-partitioned by the
    // join key, frontier keys repartitioned to match — the pages (html) side
    // must show NO Exchange of its own; the single Exchange in the plan is
    // the (small) keys side. This is the single biggest lever at 100 TB: a
    // regression here re-shuffles the whole html column every epoch.
    val prevSmj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    // at scale the frontier side exceeds any broadcast threshold — force the
    // shuffle-join shape the property is about
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val pages = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(concat(lit("https://example.com/d/"), col("doc_id")).as("url"),
          col("text").as("html"))
        .repartition(8, col("url"))
        .persist()
      pages.count()
      val keys = spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") < 100)
        .select(concat(lit("https://example.com/d/"), col("doc_id")).as("url"))
        .repartition(8, col("url"))
      val plan = formatted(pages.join(keys, Seq("url")))
      // the pages subtree is everything above the InMemoryRelation dump (the
      // cached relation prints its own stored plan, whose build-time Exchange
      // does not count); an Exchange THERE means html is being re-shuffled
      val pagesSide = plan.linesIterator
        .takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
      val pagesExchanges = pagesSide.linesIterator.count(_.matches(".*\\bExchange\\b.*"))
      assert(pagesExchanges == 0,
        s"pages (html) side must reuse the cached partitioning, found $pagesExchanges Exchange(s):\n$plan")
      assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"), plan)
      pages.unpersist()
    } finally {
      spark.conf.set("spark.sql.join.preferSortMergeJoin", prevSmj)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    }
  }

  test("candidate groupBy reuses the links-distinct url partitioning (one exchange)") {
    // the CrawlEngine no-politeness shape: distinct(url) → in-domain filter →
    // host projection → groupBy(url). host is a function of url, so grouping
    // by url alone lets the groupBy consume the distinct's hash partitioning
    // — a second candidate-set shuffle per epoch would show up here
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.plans.planfns._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val links = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(concat(lit("https://example.com/d/"), col("doc_id")).as("url"))
        .distinct()
      val cand = links
        .filter(url_in_domain(col("url"), lit("example.com")))
        .select(col("url"), lit(0L).as("priority"))
        .groupBy(col("url"))
        .agg(min(col("priority")).as("priority"))
        .select(col("url"), host_key(col("url")).as("host"), col("priority"))
      val exchanges = cand.queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1,
        s"expected the distinct's single url exchange, found ${exchanges.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  /** The engine's dedup chain, run with AQE on or off: distinct candidates,
    * unpersisted and observed (the engine's `candidates_in`), below
    * `repartition(nb, url)` + ONE filter carrying the sketch and seen-store
    * predicates. Checks the chain is exact (seen urls are out) and that the
    * observed count is the distinct's row count, and returns the executed
    * plan's shuffles and its store filters.
    */
  private def dedupChain(nb: Int, aqe: Boolean) = {
    import java.nio.file.Files
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.plans.planfns._
    import spark.implicits._
    object helper extends AdaptiveSparkPlanHelper
    val seen = new graft.sketch.SeenUrlStore(
      Files.createTempDirectory("graft-plan-seen-").toString + "/s", nb)
    seen.writeDelta((0 until 50).map(i => s"https://example.com/d/$i").toDF("url"), 0)
    val sketch = graft.sketch.BloomSketch.forExpected(1000, 0.01)
    (0 until 50).foreach(i => sketch.add(s"https://example.com/d/$i"))
    val bcast = spark.sparkContext.broadcast[graft.sketch.UrlSketch](sketch)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    try {
      val distinct = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(concat(lit("https://example.com/d/"), col("doc_id")).as("url"))
        .distinct()
      val obs = new Observation()
      val url = col("url")
      val next = distinct.observe(obs, count(lit(1)).as("n"))
        .repartition(nb, url)
        .filter(!(might_contain(bcast, url) && seen.seen(url, 0)))
      val out = next.as[String].collect().toSet
      val plan = next.queryExecution.executedPlan
      val storeFilters = helper.collect(plan) {
        case f: FilterExec if f.condition.exists(_.prettyName == "seen") => f
      }
      assert(out.nonEmpty &&
        !out.exists(u => u.stripPrefix("https://example.com/d/").toLong < 50), s"aqe=$aqe")
      assert(obs.get("n") == distinct.count(), s"aqe=$aqe: observed count")
      (helper.collect(plan) { case e: ShuffleExchangeExec => e }, storeFilters)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      bcast.destroy()
    }
  }

  test("aligned dedup chain: sketch + seen-store probe in one filter keeps " +
    "ONE shuffle (the distinct's), AQE on and off") {
    val nb = spark.sessionState.conf.numShufflePartitions
    for (aqe <- Seq(false, true)) {
      val (exchanges, storeFilters) = dedupChain(nb, aqe)
      assert(exchanges.size == 1,
        s"aqe=$aqe: expected only the distinct's exchange, found ${exchanges.size}")
      assert(storeFilters.size == 1, s"aqe=$aqe: expected one store filter")
    }
  }

  test("misaligned store buckets: the planner inserts exactly one exchange " +
    "below the store filter, AQE on and off") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object helper extends AdaptiveSparkPlanHelper
    val nb = spark.sessionState.conf.numShufflePartitions + 1
    for (aqe <- Seq(false, true)) {
      val (exchanges, storeFilters) = dedupChain(nb, aqe)
      assert(exchanges.size == 2,
        s"aqe=$aqe: expected the distinct's exchange + one, found ${exchanges.size}")
      assert(storeFilters.size == 1, s"aqe=$aqe: expected one store filter")
      val below = helper.collect(storeFilters.head) { case e: ShuffleExchangeExec => e }
      assert(below.exists(_.outputPartitioning.numPartitions == nb),
        s"aqe=$aqe: the store filter is not above the $nb-way exchange")
    }
  }

  test("extraction chain stays in one codegen span (no UDF boundary)") {
    import graft.html.htmlfns._
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text").cast("binary").as("html"),
        concat(lit("https://example.com/p/"), col("doc_id")).as("url"))
      .select(col("url"), explode(extract_hrefs(col("html"))).as("href"))
      .select(clean_url(url_resolve(col("url"), col("href"))).as("link"))
    val plan = formatted(df)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLFunction"), plan)
    val genLine = plan.linesIterator.find(_.matches(".*Generate \\[codegen id : \\d+\\].*"))
    assert(genLine.isDefined, plan)
    assert(plan.contains("cleanurl(urlresolve"), plan)
  }
}
