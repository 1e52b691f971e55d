package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: builds the session the way
  * `graft.plans.CrawlJob` does (local[cores], shuffle partitions = cores,
  * UTC), runs one workload, and writes the run record as JSON to `--out`.
  * run.py turns the record into the benchmark's result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.root}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSec = Util.secondsSince(t0)
    val spans = new Spans(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val outcome = a.workload match {
      case "steady_discovery" | "revisit_polite" => new CrawlBench(spark, a, spans).execute()
      case "corpus_ops" => new CorpusBench(spark, a, spans).execute()
      case w => sys.error(s"unknown workload '$w'")
    }
    spark.stop()
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).toSeq
    val record = Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "ops" -> outcome.ops.map(_.toJson),
      "end_to_end" -> (outcome.endToEnd + ("peak_rss_mb" -> Util.peakRssMb())),
      "per_layer" -> outcome.layers,
      "details" -> outcome.details,
      "session_s" -> sessionSec,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cores" -> a.cores,
      "jvm_flags" -> jvmFlags,
      "spans" -> spans.toJson)
    Files.writeString(Paths.get(a.out), Json.render(record))
  }
}
