package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Plan-evidence dumper (optimization rounds, guide §7.2): writes
  * `<outDir>/<query>_<tag>.txt` with the formatted physical plan of every
  * SparkEntry query. Constructing a crawl-native query executes its in-fn
  * engine run, so those dumps describe the RETURNED frame (the visited
  * read). Each epoch k's dedup chain (candidates → seen filter → frontier
  * write) goes to `<query>_<tag>_e<k>_frontier.txt`: a listener takes it
  * from the formatted plan of the SQL execution that writes
  * `…/frontier/epoch=<k+1>`, and the query's job group names the file.
  *
  *   sbt -batch "runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [q1,q2]"
  */
object PlanDump {
  /** The output path of a frontier write, as a write command's formatted
    * plan prints it (a scan of frontier files prints `…/epoch=<k>/part-…`).
    */
  private val FrontierWrite = """/frontier/epoch=(\d+),""".r.unanchored

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
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart => (e.jobGroupId, e.physicalPlanDescription) match {
          case (Some(query), FrontierWrite(next)) if next.toInt > 0 =>
            Files.writeString(Paths.get(outDir, s"${query}_e${next.toInt - 1}_frontier.txt"),
              e.physicalPlanDescription)
          case _ =>
        }
        case _ =>
      }
    })
    graft.SparkEntry.warmCaches(spark, sfDir)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.isEmpty || only.contains(q._1))
      .foreach { case (name, fn) =>
        try {
          spark.sparkContext.setJobGroup(s"${name}_$tag", name)
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
          println(s"[plandump] $name ok")
        } catch {
          case e: Throwable => println(s"[plandump] $name FAILED: $e")
        } finally spark.sparkContext.clearJobGroup()
      }
    // stopping the context drains the listener bus: every frontier plan is
    // written before the dumper exits
    spark.stop()
  }
}
