package graft

import org.apache.spark.sql.SparkSession

/** Scaling-evidence protocol (BASELINE.md): the same crawl kernel on the
  * same deterministically synthesized input at N=local[8] and 4N=local[32].
  * Each configuration runs in its OWN JVM (fresh GC/JIT state) with an
  * identical in-JVM warmup kernel, so the two measurements are comparable:
  *
  *   sbt "runMain graft.ScalingBench 8  200000"
  *   sbt "runMain graft.ScalingBench 32 200000"
  *
  * efficiency = urls_per_sec(32) / (4 · urls_per_sec(8)).
  */
object ScalingBench {

  /** Hypervisor steal jiffies (field 8 of /proc/stat's cpu line) — printed
    * per rep so a contaminated measurement window is visible in the record.
    */
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } finally src.close()
    } catch { case _: Exception => 0L }

  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 32
    val nPages = if (args.length > 1) args(1).toLong else 200000L
    val mode = if (args.length > 2) args(2) else "steady"
    val modes = Seq("steady", "bfs", "aged", "agedanti", "pruned", "prunedfull")
    require(modes.contains(mode), s"unknown mode '$mode' (${modes.mkString("|")})")
    val reps = if (args.length > 3) args(3).toInt else 3
    val frontierN = if (args.length > 4) args(4).toLong else 200L
    val epochFrontier = if (args.length > 5) args(5).toLong else 0L
    // experiment knob: over-partitioning the shuffles (e.g. 2x cores) can
    // smooth task waves on a noisy box — default stays partitions = cores
    val shufflePartitions =
      sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", cores.toString).toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def once(n: Long): (Double, Long) = mode match {
      case "bfs" =>
        val r = Bench.crawlKernel(spark, n, cores); (r._1, r._2)
      // bucket-manifest pruning evidence: "pruned" pre-selects pages files
      // from the epoch frontier's bucket set, "prunedfull" is the identical
      // epoch over the identical files with no pruning (the control)
      case "pruned" | "prunedfull" =>
        val r = Bench.prunedKernel(spark, n, frontierN, cores, mode == "pruned")
        println(f"""{"metric":"pruned_files","mode":"$mode","files_read":${r._3},"files_total":${r._4}}""")
        (r._1, r._2)
      // bucket-local seen-dedup evidence: the same nPages epoch over a crawl
      // aged by arg5 prior URLs — "aged" probes the sorted shard store,
      // "agedanti" is the per-epoch left_anti control. arg6 (epochFrontier):
      // 0 = full-corpus discovery shape; >0 = small-frontier revisit shape
      // (prior ⊇ corpus, candidates genuinely already-seen)
      case "aged" | "agedanti" =>
        Bench.agedKernel(spark, n, frontierN, epochFrontier, cores, mode == "aged")
      case "steady" => Bench.steadyKernel(spark, n, cores)
    }
    if (mode == "pruned" || mode == "prunedfull") once(40000L)
    else if (mode == "aged" || mode == "agedanti") {
      val w = Bench.agedKernel(spark, 20000L, math.min(frontierN, 100000L),
        if (epochFrontier > 0) 200L else 0L,
        cores, mode == "aged") // warmup at small scale, same code paths
      require(w._2 > 0)
    } else once(20000L) // JIT/codegen warmup
    // best-of-N: the sandbox VM shows CPU-steal noise; min is the least
    // contaminated estimate of true cost
    val runs = (1 to reps).map { i =>
      val s0 = stealJiffies()
      val r = once(nPages)
      val steal = stealJiffies() - s0
      println(f"""{"metric":"scaling_rep","mode":"$mode","cores":$cores,"rep":$i,"sec":${r._1}%.2f,"steal_jiffies":$steal}""")
      (r._1, r._2, Bench.lastWarehouse) // warehouse captured PER REP
    }
    val (sec, scheduled, bestWh) = runs.minBy(_._1)
    val thr = scheduled / sec
    println(
      f"""{"metric":"scaling_point","mode":"$mode","cores":$cores,"n_pages":$nPages,"urls_per_sec":$thr%.1f,"sec":$sec%.2f,"scheduled":$scheduled}""")
    // per-step laps of the SELECTED (min) rep's epoch(s) — the step breakdown
    // must describe the same run as the headline number, not the final rep,
    // which on a noisy box may be a steal-contaminated run that minBy rejected
    bestWh.foreach { wh =>
      val store = new graft.snapshot.SnapshotStore(spark, wh)
      store.latest().foreach { last =>
        (0 to last.epoch).foreach { e =>
          store.snapshotAt(e).foreach { s =>
            val steps = s.metrics.filter(_._1.startsWith("ms_")).toSeq.sortBy(_._1)
              .map { case (k, v) => s""""$k":$v""" }.mkString(",")
            println(s"""{"metric":"step_ms","epoch":$e,"wall_ms":${s.metrics.getOrElse("wall_ms", -1L)},$steps}""")
          }
        }
      }
    }
    spark.stop()
  }
}
