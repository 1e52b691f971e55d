package graft.snapshot

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import SnapshotStore.DataFile

/** The pages input table in its 100-TB-shaped layout: data files bucketed by
  * `pmod(xxhash64(url), B)` with the bucket recorded per file in a JSON
  * manifest (SURVEY.md §1.4 / §4.2: "the manifest layer selects data files
  * by bucket before spark.read"). The fetch join then reads ONLY the buckets
  * named by the epoch's frontier instead of scanning the whole corpus —
  * at 10^10 pages this is the difference between a per-epoch full-table
  * parquet read and a read proportional to the frontier.
  *
  * `adopt` is the sandbox stand-in for "the Iceberg pages table is bucket
  * partitioned": it rewrites an arbitrary pages DataFrame once into the
  * bucketed layout (a one-time cost, reusable across crawls via `load`).
  * On a real deployment the table is written bucketed in the first place
  * and only the manifest is produced.
  */
final class BucketedPages private (
    spark: SparkSession,
    val dir: String,
    val numBuckets: Int,
    val files: Seq[DataFile],
    robotsBuckets: Option[Set[Int]]) {

  require(files.forall(_.bucket >= 0), "bucketed manifest has unbucketed files")

  /** The rows that can possibly be robots.txt pages, read through the
    * manifest's robots-bucket stat: robots discovery then costs O(robots
    * files), not a corpus-wide url scan (2000 file opens at sandbox scale;
    * a 100 TB listing at real scale). Manifests without the stat (older
    * adopt) fall back to the full scan — correct, just unpruned.
    */
  def robotsCandidates: DataFrame = robotsBuckets match {
    case Some(bs) => scanBuckets(bs)
    case None => full
  }

  /** How many buckets can contain a robots.txt page, when the manifest
    * carries the stat (same superset filter as the engine's url probe, so a
    * reader can skip the probe job entirely: 0 ⇒ provably no robots pages).
    */
  def robotsBucketCount: Option[Int] = robotsBuckets.map(_.size)

  /** The bucket of a url Column — MUST match the layout's write-side key. */
  def bucketExpr(url: Column): Column =
    pmod(xxhash64(url), lit(numBuckets)).cast("int")

  def totalFiles: Int = files.size

  /** Manifest-driven file pre-selection: read only the named buckets.
    * Selection happens BEFORE spark.read — pruned files never appear in the
    * scan's file index at all (stronger than partition pruning, which still
    * lists everything).
    */
  def scanBuckets(buckets: Set[Int]): DataFrame = {
    val picked = files.filter(f => buckets.contains(f.bucket)).map(_.path)
    if (picked.isEmpty)
      // a LocalRelation, NOT full.limit(0): the latter would make the driver
      // list every data file just to produce zero rows
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(picked: _*)
  }

  def filesFor(buckets: Set[Int]): Seq[DataFile] =
    files.filter(f => buckets.contains(f.bucket))

  /** Whole-table scan (robots pass, verification) through the manifest. */
  def full: DataFrame = spark.read.schema(schema).parquet(files.map(_.path): _*)

  /** Fixed schema read once from a single footer on the driver — no Spark
    * job, and no schema-inference listing over every file on each scan.
    */
  private lazy val schema = SnapshotStore.parquetSchema(
    new Path(files.head.path), spark.sparkContext.hadoopConfiguration)
}

object BucketedPages {

  private val ManifestName = "pages-manifest.json"

  /** One-time rewrite of `pages` into the bucketed layout under `dir` +
    * manifest. Each data file holds exactly one bucket (write partitioned by
    * the bucket value), so the per-file bucket stat is exact.
    */
  def adopt(spark: SparkSession, pages: DataFrame, dir: String,
      numBuckets: Int): BucketedPages = {
    require(numBuckets > 0, "numBuckets must be positive")
    val keyed = pages.withColumn("__bucket",
      pmod(xxhash64(col("url")), lit(numBuckets)).cast("int"))
    keyed
      .repartition(numBuckets, col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket")
      .parquet(dir)
    // robots-bucket stat (one-time, at adoption): which buckets can contain
    // a robots.txt page (superset filter of the parser's exact path check)
    import spark.implicits._
    val robotsBuckets = keyed
      .filter(col("url").endsWith("/robots.txt"))
      .select(col("__bucket")).distinct().as[Int].collect().toSet
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    val files = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__bucket="))
      .flatMap { d =>
        val bucket = d.getPath.getName.stripPrefix("__bucket=").toInt
        fs.listStatus(d.getPath).toSeq
          .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
          .map { s =>
            DataFile(s.getPath.toString,
              SnapshotStore.parquetRowCount(s.getPath, hconf), bucket)
          }
      }
      .sortBy(f => (f.bucket, f.path))
    writeManifest(fs, root, numBuckets, files, robotsBuckets)
    new BucketedPages(spark, dir, numBuckets, files, Some(robotsBuckets))
  }

  /** Load an adopted table from its manifest (no data listing). */
  def load(spark: SparkSession, dir: String): BucketedPages = {
    val mapper = new ObjectMapper
    val p = new Path(dir, ManifestName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val node = try mapper.readTree(in) finally in.close()
    val files = node.get("files").asInstanceOf[ArrayNode].asScala.map { fn =>
      DataFile(fn.get("path").asText(), fn.get("rows").asLong(),
        fn.get("bucket").asInt())
    }.toSeq
    val robotsBuckets = Option(node.get("robots_buckets")).map { arr =>
      arr.asInstanceOf[ArrayNode].asScala.map(_.asInt()).toSet
    }
    new BucketedPages(spark, dir, node.get("num_buckets").asInt(), files,
      robotsBuckets)
  }

  def manifestExists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, ManifestName)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def writeManifest(fs: FileSystem, root: Path, numBuckets: Int,
      files: Seq[DataFile], robotsBuckets: Set[Int]): Unit = {
    val mapper = new ObjectMapper
    val node = mapper.createObjectNode()
    node.put("num_buckets", numBuckets)
    node.put("key", "pmod(xxhash64(url), num_buckets)")
    val rb = node.putArray("robots_buckets")
    robotsBuckets.toSeq.sorted.foreach(rb.add)
    val arr = node.putArray("files")
    files.foreach { f =>
      val fo = arr.addObject()
      fo.put("path", f.path)
      fo.put("rows", f.rows)
      fo.put("bucket", f.bucket)
    }
    val tmp = new Path(root, s".tmp-$ManifestName")
    val fin = new Path(root, ManifestName)
    val out = fs.create(tmp, true)
    out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    out.close()
    if (fs.exists(fin)) fs.delete(fin, false)
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"manifest publish failed for $fin")
  }
}
