package graft.snapshot

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** Self-built Iceberg-semantics layer (SURVEY.md §1.4): Parquet data files +
  * JSON snapshot manifests. No Iceberg runtime jar exists in this sandbox,
  * so snapshot/manifest/lineage semantics are implemented from scratch
  * (~200 LoC) and are swappable for real Iceberg later.
  *
  * Layout:
  *   root/<table>/epoch=N/part-*.parquet      append-only epoch deltas
  *   root/metadata/snap-N.json                one manifest per epoch
  *
  * A manifest records snapshot_id, parent_id, epoch, per-table FULL data-file
  * list (parent's files + this epoch's delta files → per-partition lineage),
  * per-table delta row counts, and the epoch metrics. Commit = write data
  * files, then write tmp manifest + atomic rename (single-FS atomic publish).
  * Resume = newest valid manifest; reads go through the manifest's file list,
  * so uncommitted (crashed) epoch directories are invisible — exact resume.
  */
object SnapshotStore {
  /** One data file = one write partition: (path, rows) is the per-partition
    * lineage + row metric the north_rule asks for. `bucket` >= 0 records the
    * key-hash bucket every row of the file belongs to (SURVEY.md §1.4
    * "per-partition data-file list with min/max of the partition key" — the
    * file-level pruning stat that lets a reader select data files by bucket
    * BEFORE spark.read); -1 = unbucketed.
    */
  final case class DataFile(path: String, rows: Long, bucket: Int = -1)
  /** `schemaJson` (Spark StructType JSON) lets readers skip parquet-footer
    * schema inference — at small epochs the per-epoch driver cost was
    * dominated by re-inferring the fixed state-table schemas.
    */
  final case class TableState(dataFiles: Seq[DataFile], deltaRows: Long,
      totalRows: Long, schemaJson: String = null) {
    def files: Seq[String] = dataFiles.map(_.path)
  }
  /** One fetch/extract-task partition's counters for the epoch (SURVEY.md
    * §1.2 metrics schema; north_rule "per-partition lineage and fetch/extract
    * metrics"). `pages` = page rows the partition fetched (joined);
    * frontier urls with no page row are the epoch-level `fetched` −
    * `pages_hit` residual.
    */
  final case class PartitionMetric(partitionId: Int, pages: Long,
      bytesHtml: Long, linksOut: Long, parseErrors: Long)

  final case class Snapshot(
      snapshotId: Long,
      parentId: Long,
      epoch: Int,
      tables: Map[String, TableState],
      metrics: Map[String, Long],
      partitionMetrics: Seq[PartitionMetric] = Nil)

  /** Exact row count from the parquet footer — driver-side, no Spark job. */
  def parquetRowCount(fp: Path, hconf: org.apache.hadoop.conf.Configuration): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(fp, hconf))
    try r.getRecordCount finally r.close()
  }

  /** A parquet file's schema as `spark.read` reports it, from the footer —
    * driver-side, no Spark job. Spark writers keep the exact schema in the
    * footer metadata; other files go through Spark's parquet type converter.
    */
  def parquetSchema(fp: Path, hconf: org.apache.hadoop.conf.Configuration): StructType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(fp, hconf))
    val meta = try r.getFooter.getFileMetaData finally r.close()
    SqlBridge.asNullable(
      Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(new ParquetToSparkSchemaConverter(hconf).convert(meta.getSchema)))
  }
}

final class SnapshotStore(spark: SparkSession, val root: String) {
  import SnapshotStore._

  private val mapper = new ObjectMapper
  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs(p: Path): FileSystem = p.getFileSystem(hconf)

  private def metaDir = new Path(root, "metadata")

  /** Write `delta` as this epoch's data files for `table`; returns the new
    * cumulative state given the parent state. `fullRewrite` tables (e.g. the
    * frontier) list only this epoch's files.
    */
  def writeDelta(table: String, epoch: Int, delta: DataFrame,
      parent: Option[TableState], fullRewrite: Boolean = false): TableState = {
    val dir = new Path(new Path(root, table), s"epoch=$epoch")
    delta.write.mode("overwrite").parquet(dir.toString)
    val dataFiles = partFiles(dir)
    val deltaRows = dataFiles.map(_.rows).sum
    val parentFiles = if (fullRewrite) Nil else parent.map(_.dataFiles).getOrElse(Nil)
    val parentRows = if (fullRewrite) 0L else parent.map(_.totalRows).getOrElse(0L)
    TableState(parentFiles ++ dataFiles, deltaRows, parentRows + deltaRows,
      delta.schema.json)
  }

  /** Threshold-triggered compaction for an append-only delta table (links):
    * rewrite the manifest's current file set as DISTINCT rows under
    * `<table>/compact=<epoch>/`, returning a state that lists ONLY the
    * compacted files. Without this, every read of a long crawl's links pays
    * an O(total-ever-appended) scan + distinct over all deltas forever.
    *
    * Crash-safe by the same invariant as epoch data dirs: the files are
    * invisible until a committed manifest references them; a crashed
    * compaction leaves an orphan directory that the re-run of the same epoch
    * overwrites. Older snapshots keep referencing the pre-compaction delta
    * files, which are never deleted — per-epoch lineage and time travel stay
    * intact.
    */
  def compactDistinct(table: String, epoch: Int, st: TableState): TableState = {
    val dir = new Path(new Path(root, table), s"compact=$epoch")
    read(st).distinct().write.mode("overwrite").parquet(dir.toString)
    val dataFiles = partFiles(dir)
    TableState(dataFiles, st.deltaRows, dataFiles.map(_.rows).sum, st.schemaJson)
  }

  /** Read a table through the manifest's file list (never the directory);
    * the manifest schema skips footer inference when present.
    */
  def readTable(s: Snapshot, table: String): DataFrame = {
    val st = s.tables(table)
    if (st.files.isEmpty)
      throw new IllegalStateException(s"table $table has no files in snapshot ${s.snapshotId}")
    read(st)
  }

  /** The state's files, read with its manifest schema when recorded. */
  private def read(st: TableState): DataFrame =
    (if (st.schemaJson == null) spark.read
    else spark.read.schema(org.apache.spark.sql.types.DataType
      .fromJson(st.schemaJson).asInstanceOf[org.apache.spark.sql.types.StructType]))
      .parquet(st.files: _*)

  /** The part files just written under `dir`, name-sorted, each with its
    * row count from the parquet footer — driver-side, no Spark job; one file
    * = one write partition, so this IS the per-partition lineage. Footers
    * are read concurrently: ~32 serial opens cost 100-200 ms per write, a
    * visible slice of small-epoch latency.
    */
  private def partFiles(dir: Path): Seq[DataFile] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val paths = fs(dir).listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString)
      .sorted
    Await.result(Future.sequence(paths.map(fp => Future {
      DataFile(fp, parquetRowCount(new Path(fp), hconf))
    })), scala.concurrent.duration.Duration.Inf)
  }

  def commit(epoch: Int, tables: Map[String, TableState],
      metrics: Map[String, Long]): Snapshot =
    commit(epoch, tables, metrics, latest())

  /** `parent` supplied by the caller skips the per-commit manifest-directory
    * scan (latest() parses every snap-*.json — O(epochs) driver work that
    * compounds to O(epochs²) over a long crawl).
    */
  def commit(epoch: Int, tables: Map[String, TableState],
      metrics: Map[String, Long], parent: Option[Snapshot],
      partitionMetrics: Seq[PartitionMetric] = Nil): Snapshot = {
    val snap = Snapshot(
      snapshotId = epoch.toLong,
      parentId = parent.map(_.snapshotId).getOrElse(-1L),
      epoch = epoch,
      tables = tables,
      metrics = metrics,
      partitionMetrics = partitionMetrics)
    val node = mapper.createObjectNode()
    node.put("snapshot_id", snap.snapshotId)
    node.put("parent_id", snap.parentId)
    node.put("epoch", snap.epoch)
    val tnode = node.putObject("tables")
    for ((name, st) <- tables.toSeq.sortBy(_._1)) {
      val o = tnode.putObject(name)
      o.put("delta_rows", st.deltaRows)
      o.put("total_rows", st.totalRows)
      if (st.schemaJson != null) o.put("schema", st.schemaJson)
      val arr = o.putArray("files")
      st.dataFiles.foreach { df =>
        val fo = arr.addObject()
        fo.put("path", df.path)
        fo.put("rows", df.rows)
        if (df.bucket >= 0) fo.put("bucket", df.bucket)
      }
    }
    val mnode = node.putObject("metrics")
    for ((k, v) <- metrics.toSeq.sortBy(_._1)) mnode.put(k, v)
    if (partitionMetrics.nonEmpty) {
      val parr = node.putArray("partition_metrics")
      partitionMetrics.sortBy(_.partitionId).foreach { pm =>
        val po = parr.addObject()
        po.put("partition_id", pm.partitionId)
        po.put("pages", pm.pages)
        po.put("bytes_html", pm.bytesHtml)
        po.put("links_out", pm.linksOut)
        po.put("parse_errors", pm.parseErrors)
      }
    }

    val f = fs(metaDir)
    f.mkdirs(metaDir)
    val tmp = new Path(metaDir, s".tmp-snap-$epoch.json")
    val fin = new Path(metaDir, s"snap-$epoch.json")
    val out = f.create(tmp, true)
    out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    out.close()
    // single-writer: a pre-existing manifest here is a torn leftover from a
    // crashed commit of this same epoch — replace it
    if (f.exists(fin)) f.delete(fin, false)
    if (!f.rename(tmp, fin))
      throw new java.io.IOException(s"atomic publish failed for $fin")
    snap
  }

  /** Newest valid snapshot (torn/tmp manifests ignored). */
  def latest(): Option[Snapshot] = {
    val f = fs(metaDir)
    if (!f.exists(metaDir)) return None
    val snaps = f.listStatus(metaDir).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("snap-") && p.getName.endsWith(".json"))
      .flatMap { p =>
        try Some(load(p))
        catch { case _: Exception => None } // torn file → ignore
      }
    if (snaps.isEmpty) None else Some(snaps.maxBy(_.epoch))
  }

  def snapshotAt(epoch: Int): Option[Snapshot] = {
    val p = new Path(metaDir, s"snap-$epoch.json")
    if (!fs(p).exists(p)) None
    else try Some(load(p)) catch { case _: Exception => None }
  }

  private def load(p: Path): Snapshot = {
    val in = fs(p).open(p)
    val node = try mapper.readTree(in) finally in.close()
    val tables = node.get("tables").properties().asScala.map { e =>
      val name = e.getKey
      val o = e.getValue
      val files = o.get("files").asInstanceOf[ArrayNode].asScala.map { fn =>
        DataFile(fn.get("path").asText(), fn.get("rows").asLong(),
          Option(fn.get("bucket")).map(_.asInt()).getOrElse(-1))
      }.toSeq
      name -> TableState(files, o.get("delta_rows").asLong(),
        o.get("total_rows").asLong(),
        Option(o.get("schema")).map(_.asText()).orNull)
    }.toMap
    val metrics = Option(node.get("metrics")).map { m: JsonNode =>
      m.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    val pmetrics = Option(node.get("partition_metrics")).map { arr =>
      arr.asInstanceOf[ArrayNode].asScala.map { pn =>
        PartitionMetric(pn.get("partition_id").asInt(), pn.get("pages").asLong(),
          pn.get("bytes_html").asLong(), pn.get("links_out").asLong(),
          pn.get("parse_errors").asLong())
      }.toSeq
    }.getOrElse(Nil)
    Snapshot(node.get("snapshot_id").asLong(), node.get("parent_id").asLong(),
      node.get("epoch").asInt(), tables, metrics, pmetrics)
  }

  /** The §1.2 metrics table across all committed epochs, materialized from
    * the manifests: (epoch, partition_id, pages, bytes_html, links_out,
    * parse_errors). Manifest-resident (no per-epoch data-file write) —
    * partition counts are ≤ tasks/epoch, so this stays driver-trivial even
    * at 2^14 partitions.
    */
  def partitionMetricsTable(): DataFrame = {
    import spark.implicits._
    val f = fs(metaDir)
    val rows =
      if (!f.exists(metaDir)) Seq.empty
      else f.listStatus(metaDir).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("snap-") && p.getName.endsWith(".json"))
        .flatMap(p => try Some(load(p)) catch { case _: Exception => None })
        .sortBy(_.epoch)
        .flatMap(s => s.partitionMetrics.map(pm =>
          (s.epoch, pm.partitionId, pm.pages, pm.bytesHtml, pm.linksOut,
            pm.parseErrors)))
    rows.toDF("epoch", "partition_id", "pages", "bytes_html", "links_out",
      "parse_errors")
  }

  /** Drop manifests newer than `epoch` (test hook for crash/resume). */
  def truncateAfter(epoch: Int): Unit = {
    val f = fs(metaDir)
    if (!f.exists(metaDir)) return
    f.listStatus(metaDir).foreach { s =>
      val n = s.getPath.getName
      if (n.startsWith("snap-") && n.endsWith(".json")) {
        val e = n.stripPrefix("snap-").stripSuffix(".json").toInt
        if (e > epoch) f.delete(s.getPath, false)
      }
    }
  }
}
