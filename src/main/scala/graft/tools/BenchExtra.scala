package graft.tools

import org.apache.spark.sql.SparkSession

/** Extra benchmark main (guide §1.4): per-query isolation with the noop sink
  * — every column of every row is computed and discarded, so the number is
  * the computation, not the sink — with N reps and per-rep steal jiffies.
  * The frozen `graft.Bench` methodology (count() per query, single pass)
  * remains the driver artifact; this main exists for optimization evidence
  * only (OPTIMIZATION_r06.md).
  *
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt -batch "runMain graft.tools.BenchExtra <reps> [q1,q2,...]"
  */
object BenchExtra {

  /** Aged-SUPPRESSED kernel (bucket-local suppressed-state evidence —
    * the suppressed twin of [[graft.Bench.agedKernel]], kept out of the
    * frozen Bench): ONE steady epoch over an nPages corpus whose hosts
    * carry a benign robots.txt (its Disallow matches nothing, so no NEW
    * suppressions arise and the politeness shape is unchanged), with
    * `priorN` previously-suppressed urls already in the suppressed table —
    * the regime where a robots-heavy crawl is OLD and the per-epoch
    * `frontier − suppressed(≤e)` subtraction is governed by accumulated
    * state. `bucketLocal` = the default suppressed-store shard probe;
    * control = `seenDedup=anti`'s left_anti over the cumulative suppressed
    * parquet. Prior urls are DISJOINT from the corpus (the cost under test
    * is CARRYING the state, not the hits). Prior seeding (and its shard
    * build) is outside the timed region — that state was written by earlier
    * epochs, whose cost was paid then. Returns (sec, urlsScheduledDeduped).
    */
  def agedSuppressedKernel(spark: SparkSession, nPages: Long, priorN: Long,
      partitions: Int, bucketLocal: Boolean): (Double, Long) = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.plans.{CrawlConfig, CrawlEngine}
    import graft.snapshot.SnapshotStore
    import graft.synth.SiteGen
    val domain = "example.com"
    val pages = SiteGen.pages(spark, domain, nPages, hosts = 32,
      outDegree = 12, numPartitions = partitions,
      robotsBody = Some("User-agent: *\nDisallow: /never-matches\n"))
      .repartition(partitions, col("url"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pages.count()
    val wh = java.nio.file.Files.createTempDirectory("graft-agedsup-").toString
    graft.Bench.lastWarehouse = Some(wh)
    val store = new SnapshotStore(spark, wh)
    val frontier0 = pages
      .filter(!col("url").endsWith("/robots.txt") && col("url").contains("/p/"))
      .select(col("url"),
        graft.plans.planfns.host_key(col("url")).as("host"),
        lit(0L).as("priority"))
    val prior = spark.range(0, priorN, 1, partitions)
      .map(i => SiteGen.pageUrl(domain, 32, nPages + i)) // disjoint id range
      .toDF("url")
    val fState = store.writeDelta("frontier", 0, frontier0, None, fullRewrite = true)
    val vState = store.writeDelta("visited", -1,
      Seq.empty[(Int, String)].toDF("epoch", "url"), None)
    val lState = store.writeDelta("links", -1, Seq.empty[String].toDF("url"), None)
    val sState = store.writeDelta("suppressed", -1, prior, None)
    store.commit(-1, Map("frontier" -> fState, "visited" -> vState,
      "links" -> lState, "suppressed" -> sState), Map("seed" -> fState.deltaRows))
    if (bucketLocal && priorN > 0)
      new graft.sketch.SeenUrlStore(s"$wh/suppressedstore", partitions)
        .writeDelta(prior, -1)

    val prevSmj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    val t0 = System.nanoTime()
    new CrawlEngine(spark, CrawlConfig(domain, numPartitions = partitions,
      seenDedup = if (bucketLocal) "bucketlocal" else "anti",
      bloomMinSeen = Long.MaxValue,
      maxEpochs = 1))
      .run(pages, s"https://$domain", wh)
    val sec = (System.nanoTime() - t0) / 1e9
    spark.conf.set("spark.sql.join.preferSortMergeJoin", prevSmj)
    val scheduled = store.snapshotAt(0)
      .map(_.metrics.getOrElse("candidates_in", 0L)).getOrElse(0L)
    pages.unpersist()
    (sec, scheduled)
  }

  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } finally src.close()
    } catch { case _: Exception => 0L }

  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val only: Set[String] =
      if (args.length > 1) args(1).split(",").toSet else Set.empty
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.multimodal.MediaOps.cachedCorpus(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text",
      cacheKey = sfDir).count()
    graft.SparkEntry.warmCaches(spark, sfDir)
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only.contains(q._1))
    // one warm lap (JIT/codegen), then the measured reps
    queries.foreach { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"warm:$name")
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    queries.foreach { case (name, fn) =>
      // a rep that throws is no timing: it reports its error and stays out
      // of best_sec
      val times = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"bench:$name:$i")
        val s0 = stealJiffies()
        val t0 = System.nanoTime()
        val err =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch { case t: Throwable => Some(t.toString) }
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, stealJiffies() - s0, err)
      }
      val ok = times.filter(_._3.isEmpty).map(_._1)
      val best = if (ok.isEmpty) "null" else f"${ok.min}%.3f"
      val all = times.map(t => if (t._3.isEmpty) f"${t._1}%.3f" else "null")
        .mkString("[", ",", "]")
      val steals = times.map(_._2).mkString("[", ",", "]")
      val errorField = times.flatMap(_._3).headOption.fold("")(e =>
        s""","error":${new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(e)}""")
      println(s"""{"metric":"noop_query","name":"$name","best_sec":$best,"reps":$all,"steal_jiffies":$steals$errorField}""")
    }
    spark.stop()
  }
}
