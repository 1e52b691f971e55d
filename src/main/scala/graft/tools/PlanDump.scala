package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-evidence dumper (optimization rounds, guide §7.2): writes
  * `<outDir>/<query>_<tag>.txt` with the formatted physical plan of every
  * SparkEntry query. Constructing a crawl-native query executes its in-fn
  * engine run, so those dumps describe the RETURNED frame (the visited
  * read); each epoch's dedup chain (candidates → seen filter → frontier
  * write) is additionally dumped by CrawlEngine as `e<k>_frontier` when
  * `graft.explain.dir` is set (done here per query).
  *
  *   sbt -batch "runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [q1,q2]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "plans/r06"
    val tag = if (args.length > 2) args(2) else "before"
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.warmCaches(spark, sfDir)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only.contains(q._1))
      .foreach { case (name, fn) =>
        try {
          // crawl-native queries read this property and dump their per-epoch
          // `e<k>_frontier` dedup chains alongside
          System.setProperty("graft.explain.dir", s"$outDir")
          System.setProperty("graft.explain.tag", s"${name}_$tag")
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
          println(s"[plandump] $name ok")
        } catch {
          case e: Throwable => println(s"[plandump] $name FAILED: $e")
        } finally {
          System.clearProperty("graft.explain.dir")
          System.clearProperty("graft.explain.tag")
        }
      }
    spark.stop()
  }
}
