package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** corpus_ops: the training-data layers, one op per query, run through
  * `SparkEntry.queries` over the fixed corpus tables (documents, embeddings,
  * events at sf0.1; generated once with seed 42, so `--seed` does not change
  * them). Each op's rows are written to parquet inside the timed region and
  * later compared with the query's DuckDB oracle (`SparkEntry.oracleSql`).
  *
  * The measured lap is the JVM's first: a warm-up lap costs as much as a
  * measured one (these queries are bound by per-job overhead, not by table
  * size: a lap over the sf0.001 tables costs about as much), and
  * a run cannot afford both. The traced run adds a warm untraced lap and a
  * warm traced lap, whose difference is the tracing overhead.
  */
final class CorpusBench(spark: SparkSession, a: Args, spans: Spans) {
  val queries: Seq[(String, String)] = Seq(
    "q_minhash_dedup" -> "operators.minhash_dedup_s",
    "q_simhash_dedup" -> "operators.simhash_dedup_s",
    "q_embed_neardup" -> "operators.embed_neardup_s",
    "q_ann_ivf" -> "operators.ann_ivf_s",
    "q_stream_dedup" -> "streaming.stream_dedup_s",
    "q_sessionize" -> "streaming.sessionize_s",
    "q_media_features" -> "multimodal.media_features_s",
    "q_lang_quality" -> "textops.lang_quality_s")
  private val tables = Seq("documents", "embeddings", "events")
  private val tmp = System.getProperty("java.io.tmpdir")

  /** Stages the tables into a fresh directory and encodes the media corpus
    * (the encode is harness cost, cached per directory by MediaOps).
    */
  private def prepare(tag: String): (String, Double) = {
    val t0 = System.nanoTime()
    val dir = s"${a.root}/corpus/$tag"
    Files.createDirectories(Paths.get(dir))
    tables.foreach(t => Files.copy(Paths.get(a.data, "sf0.1", s"$t.parquet"),
      Paths.get(dir, s"$t.parquet")))
    graft.multimodal.MediaOps.cachedCorpus(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      cacheKey = dir).count()
    (dir, Util.secondsSince(t0))
  }

  private def rows(dir: String, t: String): Long =
    graft.snapshot.SnapshotStore.parquetRowCount(
      new org.apache.hadoop.fs.Path(s"$dir/$t.parquet"),
      spark.sparkContext.hadoopConfiguration)

  private def op(dir: String, q: String, lap: String, parent: Int): OpRecord = {
    val out = s"${a.root}/out/$lap/$q"
    val fn = graft.SparkEntry.queries(q)
    val ((sec, err), _) = spans.timed(q, "op", parent) { _ =>
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, dir).write.parquet(out); None }
        catch { case t: Throwable => Some(Util.describe(t)) }
      (Util.secondsSince(t0), err)
    }
    OpRecord(q, -1, sec, err.isEmpty, err, if (err.isEmpty) Some(out) else None)
  }

  private case class Lap(ops: Seq[OpRecord], sec: Double, stateBytes: Long)

  private def lap(dir: String, tag: String, rep: Int, parent: Int): Lap = {
    val tmpBefore = Util.dirBytes(tmp)
    val (ops, _) = spans.timed(s"lap:$tag", "op", parent) { id =>
      queries.map { case (q, _) => op(dir, q, tag, id).copy(rep = rep) }
    }
    val state = Util.dirBytes(s"${a.root}/out/$tag") + (Util.dirBytes(tmp) - tmpBefore)
    Lap(ops, ops.map(_.seconds).sum, state)
  }

  def execute(): Outcome = {
    val setupSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def prep(tag: String): String = {
      val (d, s) = prepare(tag)
      setupSamples += s
      d
    }
    // the oracle SQL of every query, for the DuckDB check in run.py
    val oracleFile = s"${a.root}/out/oracle_sql.json"
    Files.createDirectories(Paths.get(s"${a.root}/out"))
    Files.writeString(Paths.get(oracleFile), Json.render(
      queries.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }.toMap))

    val inputRows = {
      val dir = s"${a.data}/sf0.1"
      val (d, e, v) = (rows(dir, "documents"), rows(dir, "embeddings"),
        rows(dir, "events"))
      // minhash, simhash, media, lang read documents; embed, ivf read
      // embeddings; stream_dedup streams events twice, sessionize once
      4 * d + 2 * e + 3 * v
    }

    val steal0 = Util.stealJiffies()
    val probeBefore = graft.Bench.stealProbe()
    val laps = scala.collection.mutable.ArrayBuffer.empty[Lap]
    var timed = 0.0
    var dir = ""
    while (laps.isEmpty || (timed < a.seconds && laps.size < 20)) {
      val i = laps.size
      dir = prep(s"lap$i")
      val l = lap(dir, s"lap$i", i, -1)
      timed += l.sec
      laps += l
    }
    val probeAfter = graft.Bench.stealProbe()
    val stealDelta = Util.stealJiffies() - steal0
    val measuredOps = laps.flatMap(_.ops).toSeq
    // a lap with a failed op is not a timing (the run reports it as failed)
    val okLaps = laps.filter(_.ops.forall(_.ok)).toSeq
    val wall = Util.medianOrNaN(okLaps.map(_.sec))
    val endToEnd = Map(
      "wall_s" -> wall,
      "urls_per_s" -> Util.medianOrNaN(okLaps.map(l => inputRows / l.sec)),
      "epoch_p50_ms" -> Util.medianOrNaN(okLaps.flatMap(_.ops).map(_.seconds * 1000)),
      "setup_s" -> Util.median(setupSamples.toSeq),
      "state_bytes_per_url" -> Util.medianOrNaN(okLaps.map(_.stateBytes.toDouble / inputRows)))

    val (tracedOps, layers) =
      if (!a.trace) (Nil, Map.empty[String, Double])
      else {
        // both laps read the last measured lap's staged tables
        val warmLap = lap(dir, "warm", -1, -1)
        val listener = new BenchListener
        spark.sparkContext.addSparkListener(listener)
        spans.enabled = true
        val (l, opSpan) = spans.timed(a.workload, "op", -1)(id => lap(dir, "traced", -1, id))
        org.apache.spark.graftbench.BusSync.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val s = spans.all(opSpan)
        listener.jobsIn(s.start, s.end).foreach { j =>
          val parent = spans.all.filter(x => x.kind == "op" && x.parent >= 0 &&
            j.start >= x.start && j.start <= x.end).lastOption.map(_.id).getOrElse(opSpan)
          spans.add(s"job${j.id}", "job", j.start, if (j.end.isNaN) j.start else j.end, parent)
        }
        val perQuery = queries.map { case (q, metric) =>
          metric -> warmLap.ops.find(_.name == q).map(_.seconds).getOrElse(0.0)
        }.toMap
        (warmLap.ops ++ l.ops, listener.layerMetrics(s.start, s.end, queries.size) ++
          perQuery ++ CorpusBench.absentCrawlLayers ++ Map(
            "trace.overhead_s" -> (l.sec - warmLap.sec),
            "trace.traced_wall_s" -> l.sec,
            "trace.untraced_wall_s" -> warmLap.sec))
      }

    Outcome(measuredOps ++ tracedOps, endToEnd, layers, Map(
      "sizes" -> Map("tables" -> tables, "input_rows_per_lap" -> inputRows,
        "queries" -> queries.map(_._1), "partitions" -> a.cores),
      "laps" -> laps.map(l => Map("wall_s" -> l.sec,
        "ops" -> l.ops.map(o => o.name -> o.seconds).toMap)),
      "setup_samples_s" -> setupSamples.toSeq,
      "oracle_sql" -> oracleFile,
      "quality" -> Map("steal_jiffies" -> stealDelta,
        "steal_probe_us_before" -> probeBefore,
        "steal_probe_us_after" -> probeAfter)))
  }
}

object CorpusBench {
  /** Crawl layers corpus_ops never calls. */
  val absentCrawlLayers: Map[String, Double] = Seq(
    "plans.candidates_ms", "plans.frontier_chain_ms", "plans.state_wait_ms",
    "plans.launch_ms", "plans.epoch_other_ms", "plans.run_prologue_ms",
    "plans.epochs", "plans.urls_in", "plans.fetched", "plans.deferred",
    "plans.candidates_in", "plans.next_frontier", "plans.fetch_ratio",
    "plans.keep_ratio", "html.pages", "html.bytes", "html.links_out",
    "html.parse_errors", "html.extract_us_per_page", "url.resolve_ns_per_href",
    "url.kept_ratio", "url.page_distinct_ratio", "robots.parse_us_per_body",
    "robots.allowed_ns_per_url", "robots.suppressed", "robots.suppressed_ratio",
    "sketch.build_ms", "sketch.probe_ns_per_url", "sketch.prune_ratio",
    "sketch.bytes", "seenstore.write_ms", "seenstore.probe_ms",
    "seenstore.hit_ratio", "seenstore.files", "seenstore.bytes_per_url",
    "seenstore.compact_ms", "seenstore.compact_bytes_rewritten",
    "snapshot.commit_ms", "snapshot.latest_ms", "snapshot.files_written",
    "snapshot.bytes_written", "snapshot.pages_files_read_ratio",
    "snapshot.links_compact_ms").map(_ -> 0.0).toMap
}
