package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.multimodal.MediaOps
import graft.operators.{Dedup, SimSearch}
import graft.plans.{CrawlConfig, CrawlEngine}
import graft.plans.planfns._
import graft.synth.SiteGen
import graft.textops.textfns._
import graft.url.urlfns._
import graft.util.InputParallelism.spread

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every SQL-expressible operator has a DuckDB `oracleSql` twin with
  * identically-aliased columns; aggregates are integer-exact (counts, bigint
  * sums, cents via round·100) so Spark/DuckDB results hash-match bit-for-bit
  * regardless of float summation order. Cosine comparisons are bit-exact via
  * CAST(... AS DOUBLE[]) (DuckDB then accumulates in double, matching the
  * engine's sequential fold), and the hyperplane-LSH family inlines its
  * deterministic plane constants into the SQL (bucketSqlExpr), and the
  * wrapping-64-bit hash family (minhash/simhash/fingerprint) is emulated
  * exactly in DuckDB HUGEINT mod-2^64 arithmetic ([[OracleHashSql]]).
  * Crawl-native operators run over the deterministic SiteGen site, whose
  * splitmix64 draw stream [[OracleSiteSql]] emulates exactly in DuckDB
  * HUGEINT arithmetic — so extraction counts, text lengths, and the epoch
  * loop's visited table are hash-oracled too, not just rows-only. Every
  * query on this surface now carries a DuckDB twin.
  */
object SparkEntry {

  private def t(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Exact max of a timestamp column straight from the parquet FOOTER
    * statistics — no Spark job (guide §6: make file metadata do the work).
    * The sessionize sentinel only needs a timestamp past every event's
    * session window, and footer column statistics carry the exact max.
    * Returns None (caller falls back to the aggregation) when any file
    * lacks usable INT64 micros/millis timestamp statistics.
    */
  private def footerMaxTs(s: SparkSession, path: String,
      column: String): Option[java.sql.Timestamp] = try {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val hconf = s.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getPath)
      else Seq(p)
    var maxMicros = Long.MinValue
    var ok = files.nonEmpty
    files.foreach { fp =>
      if (ok) {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(fp, hconf))
        try {
          val schema = r.getFooter.getFileMetaData.getSchema
          val toMicros: Long => Long =
            if (!schema.containsField(column)) { ok = false; identity }
            else schema.getType(schema.getFieldIndex(column))
              .getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MICROS => identity
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
                  case _ => ok = false; identity
                }
              case _ => ok = false; identity
            }
          if (ok) r.getFooter.getBlocks.forEach { b =>
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == column).orNull
            val st = if (cc == null) null else cc.getStatistics
            if (st == null || st.isEmpty || !st.hasNonNullValue) ok = false
            else st.genericGetMax match {
              case l: java.lang.Long =>
                maxMicros = math.max(maxMicros, toMicros(l.longValue()))
              case _ => ok = false
            }
          }
        } finally r.close()
      }
    }
    if (ok && maxMicros > Long.MinValue)
      Some(new java.sql.Timestamp(maxMicros / 1000L))
    else None
  } catch { case _: Exception => None }

  /** Stage a parquet table for the streaming queries: its data file(s)
    * copied `copies` times into a fresh dir with strictly staggered mtimes —
    * the file stream source orders by modification time, so with
    * maxFilesPerTrigger=1 each copy becomes its own micro-batch, with no
    * O(table) driver materialization (the MemoryStream alternative collects
    * the whole table to the driver). `appendBatch` (e.g. a
    * watermark-advancing sentinel) is written via Spark and staged as the
    * final batch.
    */
  private def stageStreamBatches(src: String, copies: Int,
      appendBatch: Option[DataFrame] = None): (String, Int) = {
    import java.nio.file.attribute.FileTime
    import java.nio.file.{Path, Paths}
    val dir = Files.createTempDirectory("graft-stream-src-")
    val srcPath = Paths.get(src)
    // Files.list returns a stream holding a directory fd — close it (Using)
    // or every staged streaming run leaks one
    def listParquet(p: Path): Seq[Path] =
      scala.util.Using.resource(java.nio.file.Files.list(p))(
        _.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString))
    val parts: Seq[Path] =
      if (java.nio.file.Files.isDirectory(srcPath)) listParquet(srcPath)
      else Seq(srcPath)
    var batch = 0
    val t0 = System.currentTimeMillis() - 7200000L
    for (b <- 0 until copies) {
      parts.zipWithIndex.foreach { case (f, i) =>
        val dst = dir.resolve(f"b$batch%03d-$i-${f.getFileName.toString}")
        Files.copy(f, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + batch * 60000L))
      }
      batch += 1
    }
    appendBatch.foreach { df =>
      val side = Files.createTempDirectory("graft-stream-sentinel-")
      df.coalesce(1).write.mode("overwrite").parquet(side.toString)
      listParquet(side).foreach { f =>
        val dst = dir.resolve(f"b$batch%03d-s-${f.getFileName.toString}")
        Files.copy(f, dst)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(t0 + batch * 60000L))
      }
    }
    (dir.toString, parts.size)
  }

  /** Deterministic page count for crawl-shaped queries, scaled by sf dir. */
  private def crawlPages(sfDir: String): Long = {
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble).getOrElse(0.001)
    math.max(300L, math.min(60000L, (sf * 200000L).toLong))
  }

  /** Deterministically synthesized site ADOPTED into the bucket-manifest
    * layout once per (size, shape) and cached under /tmp (the media-corpus
    * pattern: the manifest write is the atomic publish marker) — the crawl
    * queries then run the production path where every epoch's fetch join
    * pre-selects data files from the frontier's bucket set
    * (pages_files_read < pages_files_total stamped into each snapshot).
    */
  private def bucketedSite(s: SparkSession, domain: String, nPages: Long,
      hosts: Int, outDegree: Int, numPartitions: Int,
      robotsBody: Option[String] = None,
      robotsTag: String = ""): graft.snapshot.BucketedPages = {
    import graft.snapshot.BucketedPages
    val buckets = math.max(8L, nPages / 2000L).toInt
    // cache key carries the seed: an earlier positional-arg slip passed
    // numPartitions into SiteGen.pages' seed slot, so bkt1-keyed dirs hold a
    // seed-8 corpus — bkt2 + explicit s42 keeps them from ever being served
    val dir = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft-site-bkt2-$domain-$nPages-$hosts-$outDegree-$buckets-s42$robotsTag"
    if (BucketedPages.manifestExists(s, dir)) BucketedPages.load(s, dir)
    else BucketedPages.adopt(s,
      SiteGen.pages(s, domain, nPages, hosts = hosts, outDegree = outDegree,
        seed = 42L, numPartitions = numPartitions, robotsBody = robotsBody),
      dir, buckets)
  }

  /** The q_crawl_robots site: every host carries the same robots.txt —
    * "Disallow: /p/1" suppresses every page index whose decimal string
    * starts with 1, and "Crawl-delay: 11" caps each host at
    * max(1, int(60 // 11)) = 5 fetches/epoch, tighter than the configured
    * budget of 7 (the min(configured, delay) path).
    */
  private val RobotsBody = "User-agent: *\nDisallow: /p/1\nCrawl-delay: 11\n"

  /** Bench-harness hook: materialize the per-sf adoption caches (bucketed
    * synth site for the crawl queries; the media corpus is warmed separately)
    * OUTSIDE any timed region — adoption is one-time table preparation, not
    * operator cost, exactly like the media-corpus encode.
    */
  def warmCaches(spark: SparkSession, sfDir: String): Unit = {
    bucketedSite(spark, "example.com", crawlPages(sfDir), hosts = 4,
      outDegree = 8, numPartitions = 8)
    bucketedSite(spark, "example.com", crawlPages(sfDir), hosts = 4,
      outDegree = 8, numPartitions = 8, robotsBody = Some(RobotsBody),
      robotsTag = "-rb1")
    ()
  }

  /** Flagship: a full domain-bounded crawl (bucket-pruned fetch-join →
    * extract → resolve → clean → dedup → epoch loop with snapshots) over a
    * deterministically synthesized 300-page site in the bucket-manifest
    * layout; returns the discovered-links table (crawler.py all_links
    * equivalent). Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val domain = "example.com"
    val pages = bucketedSite(spark, domain, nPages = 300, hosts = 4,
      outDegree = 8, numPartitions = 8)
    val wh = Files.createTempDirectory("graft-entry-").toString
    val engine = new CrawlEngine(spark, CrawlConfig(domain, numPartitions = 8))
    engine.run(pages, s"https://$domain", wh).links
  }

  /** One per implemented operator from SURVEY.md §2 + the training-data ops. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (oracle'd) ----------------------------------------
    "q_agg_pricing" -> { (s, d) =>
      s.read.parquet(t(d, "lineitem"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"),
          max(col("l_orderkey")).as("max_orderkey"))
    },
    "q_join_cust_orders" -> { (s, d) =>
      val o = s.read.parquet(t(d, "orders"))
      val c = s.read.parquet(t(d, "customer"))
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
          countDistinct(col("o_custkey")).as("n_custs"))
    },
    "q_dedup_anti" -> { (s, d) =>
      val e = s.read.parquet(t(d, "events"))
        .withColumn("day", to_date(col("ts")))
      e.filter(col("event_type") === "click").select("user_id", "day").distinct()
        .join(e.filter(col("event_type") === "purchase").select("user_id", "day"),
          Seq("user_id", "day"), "left_anti")
    },
    "q_budget_window" -> { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      s.read.parquet(t(d, "events"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 2)
        .select(col("user_id"), col("event_id"), col("rn"))
    },
    "q_union_distinct" -> { (s, d) =>
      s.read.parquet(t(d, "orders")).select(col("o_custkey").as("key"))
        .union(s.read.parquet(t(d, "lineitem")).select(col("l_partkey").as("key")))
        .distinct()
    },
    "q_sort_limit" -> { (s, d) =>
      s.read.parquet(t(d, "orders"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
    },
    "q_group_count" -> { (s, d) =>
      s.read.parquet(t(d, "events"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    },
    "q_event_span" -> { (s, d) =>
      s.read.parquet(t(d, "events"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          // parquet ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the
          // NTZ→LTZ cast is identity and epoch micros match DuckDB epoch_us
          unix_micros(min(col("ts")).cast("timestamp")).as("first_us"),
          unix_micros(max(col("ts")).cast("timestamp")).as("last_us"))
    },
    "q_stream_dedup" -> { (s, d) =>
      // REAL Structured Streaming execution over a FILE SOURCE (readStream →
      // watermarked dropDuplicatesWithinWatermark → memory sink), not a
      // batch twin: the events file is staged TWICE with staggered mtimes,
      // so micro-batch 1 is the whole table and micro-batch 2 a full
      // duplicate — cross-batch dedup state must restore exactly the
      // original rows (event_id is unique in the table; duplicates are
      // identical rows). No O(events) driver materialization: the data
      // flows file→executors. The DuckDB oracle is the events table itself.
      val srcSchema = s.read.parquet(t(d, "events")).schema
      val (dir, filesPerBatch) = stageStreamBatches(t(d, "events"), copies = 2)
      val stream = s.readStream.schema(srcSchema)
        .option("maxFilesPerTrigger", filesPerBatch).parquet(dir)
      val sink = s"q_stream_dedup_sink_${System.nanoTime()}"
      val q = graft.streaming.EventStream
        .dedupeStream(stream, keys = Seq("event_id"), watermark = "10 minutes")
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
        // materialize: the memory sink table is session-state the driver's
        // parquet write should not race with a stopped query's cleanup
        .localCheckpoint(true)
    },
    "q_sessionize" -> { (s, d) =>
      // gap-sessionization via flatMapGroupsWithState (EventStream.sessionize)
      // as a REAL streaming run: batch 1 = the whole events table (one file),
      // batch 2 = a single far-future sentinel row whose only job is to push
      // the watermark past every open session's gap so the event-time
      // timeouts fire and emit them (the sentinel's own session never times
      // out and is filtered defensively). Values are pre-scaled to integral
      // cents so the in-state double accumulation is order-independent and
      // the lag/cumsum DuckDB twin hashes bit-for-bit.
      import s.implicits._
      val src = s.read.parquet(t(d, "events"))
      // the sentinel only needs to sit past every event's session window; the
      // parquet footer's exact column max provides it without a full-scan
      // job (sub-ms truncation is swamped by the margin; a too-large
      // sentinel is equally correct — its rows are filtered out)
      val maxTs = footerMaxTs(s, t(d, "events"), "ts").getOrElse(
        src.agg(max(col("ts").cast("timestamp"))).head().getTimestamp(0))
      val sentinelTs = new java.sql.Timestamp(
        maxTs.getTime + (30 + 10 + 60) * 60000L) // gap + watermark + margin
      val st = (c: String) => src.schema(c).dataType
      val sentinel = s.range(1).select(
        lit(-1L).cast(st("event_id")).as("event_id"),
        lit(sentinelTs).cast(st("ts")).as("ts"),
        lit(-1L).cast(st("user_id")).as("user_id"),
        lit("sentinel").cast(st("event_type")).as("event_type"),
        lit(0.0).cast(st("value")).as("value"))
      val (dir, filesPerBatch) = stageStreamBatches(t(d, "events"), copies = 1,
        appendBatch = Some(sentinel))
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(
          cols.map(src.schema.apply)))
        .option("maxFilesPerTrigger", filesPerBatch).parquet(dir)
      val events = stream.select(col("event_id"), col("ts").cast("timestamp"),
        col("user_id"), col("event_type"),
        round(col("value") * 100).as("value"))
        .as[graft.streaming.EventStream.Event]
      val sink = s"q_sessionize_sink_${System.nanoTime()}"
      val q = graft.streaming.EventStream
        .sessionize(events, watermark = "10 minutes", gapMinutes = 30)
        .toDF()
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).filter(col("user_id") >= 0)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), col("total_value").cast("long").as("cents"))
        .localCheckpoint(true)
    },
    "q_stream_window" -> { (s, d) =>
      // batch twin of graft.streaming.EventStream.windowedCounts (same
      // tumbling-window semantics; integer-exact cents for the oracle)
      s.read.parquet(t(d, "events"))
        .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .select(unix_micros(col("window.start")).as("ws_us"),
          col("event_type"), col("cnt"), col("cents"))
    },
    // ---- training-data ops over documents (oracle'd subset) ----------------
    "q_doc_exact_dedup" -> { (s, d) =>
      Dedup.exact(s.read.parquet(t(d, "documents")), "doc_id", "text")
    },
    "q_text_stats" -> { (s, d) =>
      s.read.parquet(t(d, "documents")).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("n_bpeish"))
    },
    // ---- sketch/LSH/ANN/custom-expression operators -------------------------
    "q_lang_quality" -> { (s, d) =>
      s.read.parquet(t(d, "documents")).select(
        col("doc_id"),
        lang_id(col("text")).as("lang_guess"),
        quality_score(col("text")).as("quality"),
        fingerprint(col("text")).as("fp64"))
    },
    "q_minhash_dedup" -> { (s, d) =>
      Dedup.minHashLsh(spread(s.read.parquet(t(d, "documents"))), "doc_id",
        "text", shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
    },
    "q_simhash_dedup" -> { (s, d) =>
      Dedup.simHash(spread(s.read.parquet(t(d, "documents"))), "doc_id",
        "text", maxHamming = 3)
    },
    "q_embed_neardup" -> { (s, d) =>
      // synthetic embeddings are near-orthogonal (max pairwise cosine ≈ 0.51)
      // so the near-dup threshold is set where candidate pairs exist
      Dedup.embeddingNearDup(s.read.parquet(t(d, "embeddings")), "vec_id",
        "embedding", planes = 8, threshold = 0.3)
    },
    "q_ann_brute" -> { (s, d) =>
      val e = s.read.parquet(t(d, "embeddings"))
      SimSearch.bruteForceTopK(e, e.filter(col("vec_id") < 20), "vec_id",
        "embedding", k = 5)
    },
    "q_allpairs_cosine" -> { (s, d) =>
      // exact all-pairs cosine threshold — the oracle-able twin of
      // q_embed_neardup (which LSH-prunes the same pair set). Norms are
      // precomputed per vector (|V| of them), not per pair (|V|²/2).
      val e = s.read.parquet(t(d, "embeddings"))
      val l = e.select(col("vec_id").as("a"), col("embedding").as("va"))
        .withColumn("na", graft.operators.vecfns.vec_norm(col("va")))
      val r = e.select(col("vec_id").as("b"), col("embedding").as("vb"))
        .withColumn("nb", graft.operators.vecfns.vec_norm(col("vb")))
      l.crossJoin(r)
        .filter(col("a") < col("b"))
        .withColumn("cosine",
          SimSearch.cosineWithNorms(col("va"), col("vb"), col("na"), col("nb")))
        .filter(col("cosine") >= 0.3)
        .select("a", "b", "cosine")
    },
    "q_quality_stats" -> { (s, d) =>
      // custom lang-ID + composite quality expressions, DuckDB-replicated
      // from scratch in the oracle (corpus is ASCII, so the SQL char classes
      // are exact twins of the Java ones)
      s.read.parquet(t(d, "documents")).select(
        col("doc_id"),
        lang_id(col("text")).as("lang_guess"),
        quality_score(col("text")).as("quality"))
    },
    "q_ann_lsh" -> { (s, d) =>
      val e = s.read.parquet(t(d, "embeddings"))
      SimSearch.lshTopK(e, e.filter(col("vec_id") < 20), "vec_id",
        "embedding", k = 5, planes = 8)
    },
    "q_ann_ivf" -> { (s, d) =>
      // production shape (nProbe < nLists). The deterministic trainer makes
      // even this configuration fully oracle-able: OracleIvfSql unrolls the
      // k-means iterations in DuckDB CTEs.
      val e = s.read.parquet(t(d, "embeddings"))
      graft.operators.SimSearchIvf.ivfTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nLists = 16, nProbe = 4)
    },
    "q_ann_ivf_exactk" -> { (s, d) =>
      // nProbe = nLists ⇒ every query probes every inverted list, making IVF
      // brute-force-equivalent — the oracle-able twin of q_ann_ivf (same
      // trainer, assigner, and scorer code paths, recall forced to 1)
      val e = s.read.parquet(t(d, "embeddings"))
      graft.operators.SimSearchIvf.ivfTopK(e, e.filter(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, nLists = 16, nProbe = 16)
    },
    "q_media_features" -> { (s, d) =>
      // corpus encode is cached per sf dir (atomic publish) so this query
      // times the operator — decode + resize + pool — not PNG/WAV encode
      val docs = s.read.parquet(t(d, "documents"))
      MediaOps.extractFeatures(
        MediaOps.cachedCorpus(docs, "doc_id", "text", cacheKey = d),
        targetW = 64, targetH = 64, dim = 16)
        .toDF()
        .select(col("doc_id"), col("mediaType"), col("frames"),
          col("featureDim"), col("outWidth"), col("outHeight"))
    },
    // ---- crawl-native operators (deterministic synthesis; rows-only) -------
    "q_clean_urls" -> { (s, d) =>
      import s.implicits._
      val n = crawlPages(d)
      val hrefs = Seq("../up?z=1#f", "next;p", "//h1.example.com/x",
        "HTTP://CASE.example.com/P?b=2&a=1", "", "mailto:a@b.c", "/abs/./q")
      s.range(0, n, 1, 8)
        .map(i => SiteGen.pageUrl("example.com", 4, i))
        .toDF("base")
        .withColumn("href", explode(typedLit(hrefs)))
        .withColumn("joined", url_resolve(col("base"), col("href")))
        .filter(url_scheme(col("joined")).isin("http", "https"))
        .select(col("base"), col("href"),
          clean_url(col("joined")).as("clean"),
          canonicalize_url(col("joined")).as("canonical"),
          url_netloc(col("joined")).as("netloc"),
          host_key(col("joined")).as("host"))
    },
    "q_extract_links" -> { (s, d) =>
      val pages = SiteGen.pages(s, "example.com", crawlPages(d), hosts = 4,
        outDegree = 8, numPartitions = 8)
      pages.select(col("url"),
        size(graft.html.htmlfns.extract_hrefs(col("html"))).as("n_links"),
        length(graft.html.htmlfns.extract_text(col("html"))).as("text_len"))
    },
    "q_crawl_epoch" -> { (s, d) =>
      val domain = "example.com"
      // the bucket-manifest source (adopted once per sf, cached): the robots
      // probe reads only robots-flagged buckets and each epoch's fetch join
      // reads only the frontier's buckets — pages_files_read <
      // pages_files_total in every snapshot, and the synth html is
      // materialized once across bench runs instead of per-query persist
      val pages = bucketedSite(s, domain, crawlPages(d), hosts = 4,
        outDegree = 8, numPartitions = 8)
      val wh = Files.createTempDirectory("graft-q-epoch-").toString
      val result = new CrawlEngine(s, CrawlConfig(domain, numPartitions = 8,
        maxEpochs = 2)).run(pages, s"https://$domain", wh)
      result.visited
    },
    "q_crawl_depth3" -> { (s, d) =>
      // one BFS level deeper than q_crawl_epoch (same cached bucketed site):
      // epoch 2's frontier is REAL extraction output — draw-stream link
      // targets, href quirk forms, dup anchors, domain/scheme gates, and the
      // seen dedup all land in visited, and the DuckDB twin
      // (OracleSiteSql.crawlVisited) replays every one of them in SQL via
      // the splitmix64 HUGEINT emulation — the epoch loop's first hash-exact
      // driver oracle
      val domain = "example.com"
      val pages = bucketedSite(s, domain, crawlPages(d), hosts = 4,
        outDegree = 8, numPartitions = 8)
      val wh = Files.createTempDirectory("graft-q-depth3-").toString
      val result = new CrawlEngine(s, CrawlConfig(domain, numPartitions = 8,
        maxEpochs = 3)).run(pages, s"https://$domain", wh)
      result.visited
    },
    "q_crawl_budget" -> { (s, d) =>
      // the politeness window + deferral + depth-priority PQ INSIDE the
      // epoch loop: per-host budget 6 binds at every sf (the smallest site
      // puts ~9 fanout URLs on each of the 4 hosts), so epoch 2's frontier
      // mixes deferred p=1 URLs against newly discovered p=2 ones and the
      // DuckDB twin (OracleSiteSql.crawlBudgetVisited) must replay the
      // two-phase window, the carry-over, and the min-merge exactly
      val domain = "example.com"
      val pages = bucketedSite(s, domain, crawlPages(d), hosts = 4,
        outDegree = 8, numPartitions = 8)
      val wh = Files.createTempDirectory("graft-q-budget-").toString
      val result = new CrawlEngine(s, CrawlConfig(domain, budget = Some(6),
        depthPriority = true, numPartitions = 8, maxEpochs = 3))
        .run(pages, s"https://$domain", wh)
      result.visited
    },
    "q_crawl_robots" -> { (s, d) =>
      // robots.txt honored INSIDE the epoch loop: per-host Disallow
      // suppression (path-only matching — ?ref query variants of a
      // disallowed index are suppressed too) and a crawl-delay-derived
      // politeness cap tighter than the configured budget. The DuckDB twin
      // (OracleSiteSql.crawlRobotsVisited) replays suppression, the
      // min(budget, delay-budget) cap, deferral, and depth priority
      val domain = "example.com"
      val pages = bucketedSite(s, domain, crawlPages(d), hosts = 4,
        outDegree = 8, numPartitions = 8, robotsBody = Some(RobotsBody),
        robotsTag = "-rb1")
      val wh = Files.createTempDirectory("graft-q-robots-").toString
      val result = new CrawlEngine(s, CrawlConfig(domain, budget = Some(7),
        depthPriority = true, numPartitions = 8, maxEpochs = 3))
        .run(pages, s"https://$domain", wh)
      result.visited
    },
    "q_robots_gate" -> { (s, d) =>
      // RFC 9309 longest-prefix gate over sfDir-derived URLs; the DuckDB twin
      // hand-compiles the longest-prefix decision for this rule set
      val prefixes = typedLit(Seq("/private/", "/private/ok", "/tmp"))
      val allows = typedLit(Seq(false, true, false))
      val path = when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit("/private/a"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(5)) === 1,
          concat(lit("/private/ok"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(5)) === 2, concat(lit("/pub/"), col("doc_id")))
        .when(pmod(col("doc_id"), lit(5)) === 3, concat(lit("/tmp"), col("doc_id")))
        .otherwise(lit("/"))
      s.read.parquet(t(d, "documents"))
        .select(col("doc_id"), concat(lit("https://example.com"), path).as("url"))
        .withColumn("allowed",
          robots_allowed(col("url"), prefixes, allows).cast("int"))
        .select("doc_id", "url", "allowed")
    })

  /** The hyperplane components are pure deterministic constants
    * ([[graft.operators.SimSearch.planeComponent]]), so the sign-bit bucket is
    * ANSI-SQL-expressible by inlining them as double literals. The generated
    * dot product is a left-associative `+` chain over `CAST(embedding AS
    * DOUBLE[])` elements — the same sequential double accumulation as the
    * codegen'd [[graft.operators.VecOps.hyperplaneBucket]], hence bit-exact
    * (Double.toString round-trips through DuckDB's correctly-rounded parser).
    */
  private def bucketSqlExpr(planes: Int, dim: Int, arr: String): String =
    (0 until planes).map { p =>
      val dot = (0 until dim)
        .map(d => s"$arr[${d + 1}]*${SimSearch.planeComponent(p, d)}")
        .mkString(" + ")
      s"(CASE WHEN ($dot) >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")

  /** testdata embeddings are dim-64 at every sf (TESTDATA.md). */
  private val EmbDim = 64

  /** DuckDB twins. Integer-exact only; every column aliased identically. */
  def oracleSql: Map[String, String] = Map(
    "q_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
         max(l_orderkey) AS max_orderkey
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q_join_cust_orders" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q_dedup_anti" ->
      """SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
         FROM events c WHERE event_type = 'click' AND NOT EXISTS (
           SELECT 1 FROM events e WHERE e.event_type = 'purchase'
           AND e.user_id = c.user_id
           AND CAST(date_trunc('day', e.ts) AS DATE) = CAST(date_trunc('day', c.ts) AS DATE))""",
    "q_budget_window" ->
      """SELECT user_id, event_id, rn FROM (
           SELECT user_id, event_id,
             CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rn
           FROM events) WHERE rn <= 2""",
    "q_union_distinct" ->
      """SELECT DISTINCT key FROM (
           SELECT o_custkey AS key FROM orders
           UNION ALL SELECT l_partkey AS key FROM lineitem)""",
    "q_sort_limit" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q_group_count" ->
      "SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY event_type",
    "q_event_span" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us
         FROM events GROUP BY user_id""",
    "q_stream_dedup" ->
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS cents FROM events""",
    // the batch twin of gap-sessionization: a session break where the gap to
    // the previous event exceeds 30 min, sessions = cumulative break count.
    // The cumulative sum uses the default RANGE frame so tied timestamps
    // (whose relative order is ambiguous) share one frame — tie-safe, and a
    // tie can never break a session (gap 0). Values are integral cents, so
    // the engine's in-state double accumulation is order-independent.
    "q_sessionize" ->
      """WITH e AS (
           SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
           FROM events
         ), b AS (
           SELECT user_id, ts, cents,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), sid AS (
           SELECT user_id, ts, cents,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess
           FROM b
         )
         SELECT user_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events, CAST(sum(cents) AS BIGINT) AS cents
         FROM sid GROUP BY user_id, sess""",
    "q_stream_window" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events GROUP BY 1, 2""",
    "q_doc_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS text_hash,
         CAST(count(*) AS BIGINT) AS dup_count
         FROM documents GROUP BY md5(text)""",
    "q_text_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish
         FROM documents""",
    // cosine twins: CAST(... AS DOUBLE[]) makes DuckDB accumulate in double,
    // bit-identical to the engine's sequential double fold (verified)
    "q_ann_brute" ->
      """SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cosine,
             CAST(row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS INTEGER) AS rank
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         WHERE rank <= 5""",
    "q_allpairs_cosine" ->
      """SELECT e1.vec_id AS a, e2.vec_id AS b,
         list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]), CAST(e2.embedding AS DOUBLE[])) AS cosine
         FROM embeddings e1, embeddings e2
         WHERE e1.vec_id < e2.vec_id
         AND list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]), CAST(e2.embedding AS DOUBLE[])) >= 0.3""",
    "q_ann_ivf" ->
      OracleIvfSql.ivfTopK(k = 5, nLists = 16, nProbe = 4, queryMaxId = 20),
    "q_ann_ivf_exactk" ->
      // nProbe = nLists makes IVF brute-equivalent, so the exact top-k SQL
      // (the q_ann_brute twin) is its oracle
      """SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cosine,
             CAST(row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS INTEGER) AS rank
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         WHERE rank <= 5""",
    "q_embed_neardup" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         bk AS (SELECT vec_id, e, ${bucketSqlExpr(8, EmbDim, "e")} AS bucket FROM v)
         SELECT l.vec_id AS a, r.vec_id AS b,
           list_cosine_similarity(l.e, r.e) AS cosine
         FROM bk l JOIN bk r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
         WHERE list_cosine_similarity(l.e, r.e) >= 0.3""",
    "q_ann_lsh" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         bk AS (SELECT vec_id, e, ${bucketSqlExpr(8, EmbDim, "e")} AS bucket FROM v)
         SELECT query_id, neighbor_id, cosine, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.e, c.e) AS cosine,
             CAST(row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.e, c.e) DESC, c.vec_id) AS INTEGER) AS rank
           FROM bk q JOIN bk c ON q.bucket = c.bucket
           WHERE q.vec_id < 20 AND c.vec_id <> q.vec_id)
         WHERE rank <= 5""",
    "q_robots_gate" ->
      """SELECT doc_id,
         'https://example.com' || path AS url,
         CASE WHEN path LIKE '/private/ok%' THEN 1
              WHEN path LIKE '/private/%' THEN 0
              WHEN path LIKE '/tmp%' THEN 0
              ELSE 1 END AS allowed
         FROM (SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN '/private/a' || doc_id
             WHEN 1 THEN '/private/ok' || doc_id
             WHEN 2 THEN '/pub/' || doc_id
             WHEN 3 THEN '/tmp' || doc_id
             ELSE '/' END AS path
           FROM documents)""",
    // q_clean_urls: urllib in general is not SQL, but THIS query resolves 7
    // FIXED href shapes against a known base shape — the expected
    // clean/canonical/netloc/host per (base, href) is hand-compiled below
    // (the q_robots_gate approach). The row count replays crawlPages():
    // events has 10^6·sf rows, so n = max(300, min(60000, events/5)).
    "q_clean_urls" ->
      """WITH nn AS (
           SELECT GREATEST(300, LEAST(60000, CAST(count(*) // 5 AS BIGINT))) AS n
           FROM events
         ), bases AS (
           SELECT i,
             CASE CAST(i % 4 AS INTEGER) WHEN 0 THEN 'example.com'
               ELSE 'h' || CAST(CAST(i % 4 AS INTEGER) AS VARCHAR) || '.example.com'
             END AS h
           FROM (SELECT unnest(generate_series(0, (SELECT n - 1 FROM nn))) AS i)
         ), rows_ AS (
           SELECT 'https://' || h || '/p/' || i AS base, h, k, href
           FROM bases CROSS JOIN (VALUES
             (1, '../up?z=1#f'), (2, 'next;p'), (3, '//h1.example.com/x'),
             (4, 'HTTP://CASE.example.com/P?b=2&a=1'), (5, ''),
             (6, '/abs/./q')) AS t(k, href)
         )
         SELECT base, href,
           CASE k WHEN 1 THEN 'https://' || h || '/up?z=1'
                  WHEN 2 THEN 'https://' || h || '/p/next'
                  WHEN 3 THEN 'https://h1.example.com/x'
                  WHEN 4 THEN 'http://CASE.example.com/P?b=2&a=1'
                  WHEN 5 THEN base
                  ELSE 'https://' || h || '/abs/q' END AS clean,
           CASE k WHEN 1 THEN 'https://' || h || '/up?z=1'
                  WHEN 2 THEN 'https://' || h || '/p/next'
                  WHEN 3 THEN 'https://h1.example.com/x'
                  WHEN 4 THEN 'http://case.example.com/P?a=1&b=2'
                  WHEN 5 THEN base
                  ELSE 'https://' || h || '/abs/q' END AS canonical,
           CASE k WHEN 3 THEN 'h1.example.com'
                  WHEN 4 THEN 'CASE.example.com' ELSE h END AS netloc,
           CASE k WHEN 3 THEN 'h1.example.com'
                  WHEN 4 THEN 'case.example.com' ELSE h END AS host
         FROM rows_""",
    // wrapping-64-bit hash kernels, emulated exactly in DuckDB via HUGEINT
    // mod-2^64 arithmetic (see OracleHashSql)
    "q_minhash_dedup" ->
      OracleHashSql.minHashLsh(shingleK = 3, numHashes = 64, bands = 16,
        threshold = 0.5, maxBucketSize = 4096),
    "q_simhash_dedup" -> OracleHashSql.simHash(maxHamming = 3),
    "q_lang_quality" ->
      s"""WITH qq AS ($qualityStatsSql), ${OracleHashSql.fingerprintCtes}
         SELECT qq.doc_id, qq.lang_guess, qq.quality, fpp.fp64
         FROM qq JOIN fpp ON qq.doc_id = fpp.doc_id""",
    "q_quality_stats" -> qualityStatsSql,
    // crawl-native flips (OracleSiteSql): SiteGen is a pure splitmix64
    // function of the page index, and OracleHashSql's HUGEINT mod-2^64
    // machinery emulates that stream exactly in DuckDB — so extraction
    // counts, text lengths, and the epoch loop's visited table are
    // hand-compilable after all (the q_clean_urls approach, completed)
    "q_extract_links" -> OracleSiteSql.extractLinks,
    "q_crawl_epoch" -> OracleSiteSql.crawlVisited(2),
    "q_crawl_depth3" -> OracleSiteSql.crawlVisited(3),
    "q_crawl_budget" -> OracleSiteSql.crawlBudgetVisited(budget = 6),
    // effective budget = min(configured 7, crawl-delay 60//11 = 5) = 5
    "q_crawl_robots" -> OracleSiteSql.crawlRobotsVisited(effectiveBudget = 5,
      disallowDigit = "1"),
    "q_media_features" -> OracleSiteSql.mediaFeatures(dim = 16, outW = 64, outH = 64))

  /** lang-ID + composite quality replicated from scratch in DuckDB SQL
    * (shared by q_quality_stats and q_lang_quality).
    */
  private val qualityStatsSql: String =
      """WITH s AS (
           SELECT doc_id, text, length(text) AS nch,
             list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
           FROM documents
         ), c AS (
           SELECT doc_id, nch, len(toks) AS ntok,
             CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS toklen,
             nch - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS punct,
             nch - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
             len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','it','that','for','on','with','as','this','was','are','be','at','by','not'))) AS hit_en,
             len(list_filter(toks, t -> t IN ('le','la','les','de','des','du','et','en','un','une','est','que','qui','dans','pour','sur','avec','pas','au','ce'))) AS hit_fr,
             len(list_filter(toks, t -> t IN ('der','die','das','und','ist','in','den','von','zu','mit','sich','des','auf','für','im','dem','nicht','ein','eine','als'))) AS hit_de,
             len(list_filter(toks, t -> t IN ('el','la','los','las','de','y','en','un','una','es','que','del','se','por','con','para','su','al','lo','como'))) AS hit_es
           FROM s
         ), m AS (
           SELECT *, toklen * 1000 // greatest(ntok, 1) AS meanlen,
             punct * 1000 // greatest(nch, 1) AS punctx,
             digits * 1000 // greatest(nch, 1) AS digitx,
             hit_en * 1000 // greatest(ntok, 1) AS swx,
             greatest(hit_de, hit_en, hit_es, hit_fr) AS hmax
           FROM c
         )
         SELECT doc_id,
           CASE WHEN ntok = 0 OR hmax = 0 THEN 'und'
                WHEN hit_de = hmax THEN 'de'
                WHEN hit_en = hmax THEN 'en'
                WHEN hit_es = hmax THEN 'es'
                ELSE 'fr' END AS lang_guess,
           CAST(greatest(0, least(1000,
             500 + (CASE WHEN nch BETWEEN 100 AND 20000 THEN 150 ELSE 0 END)
                 + (CASE WHEN ntok >= 20 THEN 100 ELSE 0 END)
                 + (CASE WHEN meanlen BETWEEN 3000 AND 9000 THEN 100 ELSE 0 END)
                 + least(swx, 150) - least(punctx, 200) - least(digitx, 200)))
             AS BIGINT) AS quality
         FROM m"""
}
