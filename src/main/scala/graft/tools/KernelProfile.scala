package graft.tools
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.plans.{CrawlConfig, CrawlEngine}
import graft.snapshot.SnapshotStore
import graft.synth.SiteGen

object KernelProfile {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 50000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.autoBroadcastJoinThreshold", sys.env.getOrElse("GRAFT_ABJT", "10485760"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        val m = si.taskMetrics
        if (ms > 2000) println(f"STAGE ${si.stageId}%4d ${ms}%6d ms tasks=${si.numTasks}%4d " +
          f"cpu=${m.executorCpuTime / 1000000}%6d run=${m.executorRunTime}%6d gc=${m.jvmGCTime}%6d " +
          f"shW=${m.shuffleWriteMetrics.bytesWritten / 1048576}%5d MB shR=${m.shuffleReadMetrics.totalBytesRead / 1048576}%5d MB " +
          f"spill=${m.diskBytesSpilled / 1048576}%5d MB ${si.name.take(60)}")
      }
    })
    val domain = "example.com"
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    val pages = SiteGen.pages(spark, domain, n, hosts = 32, outDegree = 12,
      numPartitions = cpus.toInt)
      .repartition(cpus.toInt, org.apache.spark.sql.functions.col("url"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pages.count()
    val wh = Files.createTempDirectory("graft-prof-").toString
    val t0 = System.nanoTime()
    val bmax = sys.env.getOrElse("GRAFT_BCAST_MAX", "4000000").toLong
    val r = new CrawlEngine(spark, CrawlConfig(domain, numPartitions = cpus.toInt,
      bloomMinSeen = 50000L, broadcastMaxRows = bmax,
      bloomExpectedTotal = 4L * n)).run(pages, s"https://$domain", wh)
    val sec = (System.nanoTime() - t0) / 1e9
    val store = new SnapshotStore(spark, wh)
    (0 until r.epochs).foreach { e =>
      store.snapshotAt(e).foreach { s =>
        println(f"PROF epoch=$e%2d ${s.metrics.toSeq.sortBy(_._1).map{case(k,v)=>s"$k=$v"}.mkString(" ")}")
      }
    }
    println(f"PROF total_sec=$sec%.1f epochs=${r.epochs}")
    spark.stop()
  }
}
