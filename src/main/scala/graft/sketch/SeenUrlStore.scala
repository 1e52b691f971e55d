package graft.sketch

import java.io.DataOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileContext, FileSystem, Options, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Murmur3HashFunction, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.util.SerializableHadoopConf

/** EXACT url-seen set as url-hash-bucketed SORTED shard files — the
  * bucket-local replacement for the per-epoch `left_anti` join against the
  * cumulative visited table (BASELINE.md 10^10 accounting: "dedup is
  * bucket-local"). The visited parquet remains the authoritative record;
  * this store is a derived exact index over the same rows, maintained
  * delta-per-epoch so it supports the snapshot layer's exact resume.
  *
  * Why: a plain parquet read cannot surface its file layout as a Catalyst
  * output partitioning, so the authoritative anti-join re-shuffles the whole
  * O(total-crawled) seen set EVERY epoch — ~600 GB of never-changing state
  * per epoch at 10^10 URLs. Here the big side is never shuffled at all:
  *
  *  - '''writeWith(rows, url, epoch)(sink)''': the epoch's fetched urls (O(epoch),
  *    the only state that is new) are repartitioned by url-hash bucket
  *    ([[bucketCol]] = `pmod(hash(url), B)` — deliberately Spark's own
  *    HashPartitioning id function) on their way to a sink (the engine's
  *    parquet delta write); each sink task writes one SORTED file per
  *    bucket: `bucket=<b>/e<epoch>.seen`, atomic rename. No job of its own.
  *    [[writeDelta]] is the same write with a count as the sink.
  *  - '''seen(url, upToEpoch)''': a Catalyst predicate over the same bucket
  *    key, placed above `repartition(numBuckets, url)` ([[filterUnseen]]).
  *    Candidates and the store share Spark's url-hash bucketing, so a
  *    candidate frame that is already url-hash-partitioned into numBuckets
  *    partitions keeps its distribution: the planner drops the repartition
  *    and the probe adds no exchange; any other frame gets exactly one
  *    O(candidates) exchange, inserted by the planner. Rows stream through a
  *    per-row probe (no whole-partition buffering): each task opens a
  *    bucket's files with epoch ≤ `upToEpoch` on first touch and keeps them
  *    open for the task — binary search by positioned reads for sparse
  *    probes (cost O(probes·log n), FLAT in the accumulated seen size),
  *    self-upgrading to a one-shot bulk load + in-memory search once a shard
  *    has been probed a dense fraction of its size (the regime where reading
  *    the shard once is optimal anyway). The crawl runs without AQE, so
  *    no probe partition is AQE-coalesced: an aligned task opens one bucket.
  *
  * Exact resume rests on the epoch-suffixed file names: a probe during
  * epoch e reads only files with epoch ≤ e, and a task retry rewrites the
  * same files (same contract as the snapshot store's data dirs). A resume
  * that truncates snapshots back to epoch s drops every shard file above s
  * ([[dropAbove]]): a compacted BASE (`c<N>.seen`, derived state) would
  * hide the re-run's deltas behind an old-timeline base, and an
  * old-timeline delta survives in every bucket its epoch's re-run leaves
  * empty. [[compact]] additionally rebuilds (never folds) a base whose
  * epoch equals its own target, so a surviving stale base is
  * deterministically overwritten rather than consulted forever.
  *
  * A `_meta.json` records the bucket count and the highest epoch the store
  * has covered — the resume gate ([[validFor]]) rebuilds the index from the
  * authoritative parquet when the bucket count changed or earlier epochs
  * never wrote deltas, instead of trusting the mere existence of shard
  * files. An anti-join run writes no deltas, so the engine clears both
  * stores at its start: a later bucket-local resume finds no meta.
  *
  * Sizing: shard bytes ≈ total-seen × ~60 B / numBuckets, and a shard must
  * fit task memory for the bulk path. The engine's stores have one bucket
  * per shuffle partition, so to size the store, size
  * `spark.sql.shuffle.partitions` (2^14 ≈ 40 MB/shard at 10^10 urls;
  * sorting cost at write time is per-epoch-delta only). The crawl runs
  * without AQE, so that is also every epoch shuffle's task count.
  * Compaction streams: memory is O(1) in the bucket's accumulated size.
  */
final class SeenUrlStore(val dir: String, val numBuckets: Int) extends Serializable {
  require(numBuckets > 0)
  import SeenUrlStore._

  private def metaPath = new Path(dir, "_meta.json")

  /** (numBuckets, maxCoveredEpoch) from `_meta.json`, if present. */
  def meta(conf: Configuration): Option[(Int, Int)] = {
    val fs = metaPath.getFileSystem(conf)
    if (!fs.exists(metaPath)) None
    else {
      val in = fs.open(metaPath)
      val node = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
      Some((node.get("num_buckets").asInt(), node.get("max_epoch").asInt()))
    }
  }

  /** Resume gate: the store is a trustworthy exact index through
    * `requiredEpoch` iff its recorded bucket count matches this instance and
    * its covered-epoch watermark reaches `requiredEpoch` (earlier epochs may
    * have run with a different bucket count, a deleted store, or the
    * anti-join path — all of which leave stale/mis-bucketed/gap-ridden
    * shards that the mere existence of shard files cannot distinguish).
    */
  def validFor(conf: Configuration, requiredEpoch: Int): Boolean =
    meta(conf).exists { case (nb, maxE) =>
      nb == numBuckets && maxE >= requiredEpoch
    }

  /** Advance the covered-epoch watermark (atomic tmp+rename; driver-side).
    * Called by [[writeWith]]; call directly for an epoch whose delta is
    * empty (no shard files written) so coverage shows no gap. Throws when
    * the directory's meta records a different bucket count: its shards are
    * bucketed for another store, and a fresh meta stamped over them would
    * validate a mixed-bucket shard set ([[clear]] it first).
    */
  def markEpoch(conf: Configuration, epoch: Int): Unit =
    writeMeta(conf, math.max(checkedWatermark(conf).getOrElse(epoch), epoch))

  /** The covered-epoch watermark, if any; throws on a bucket-count mismatch. */
  private def checkedWatermark(conf: Configuration): Option[Int] =
    meta(conf).map { case (nb, maxE) =>
      if (nb != numBuckets)
        throw new IllegalStateException(s"seen store $dir holds $nb buckets, " +
          s"not $numBuckets: clear() it before writing")
      maxE
    }

  private def writeMeta(conf: Configuration, maxE: Int): Unit = {
    val fs = metaPath.getFileSystem(conf)
    fs.mkdirs(new Path(dir))
    val tmp = new Path(dir, s".tmp-meta-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    out.write(s"""{"num_buckets":$numBuckets,"max_epoch":$maxE}""".getBytes(UTF_8))
    out.close()
    if (fs.exists(metaPath)) fs.delete(metaPath, false)
    if (!fs.rename(tmp, metaPath))
      throw new java.io.IOException(s"meta publish failed for $metaPath")
  }

  /** Delete the whole store (rebuild-from-parquet path: stale mis-bucketed
    * shards must not survive a rebuild under a different bucket count).
    */
  def clear(conf: Configuration): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Truncate the store to `epoch` (driver-side, on resume): delete every
    * shard file — compacted base `c<E>.seen` or delta `e<E>.seen` — with
    * E > `epoch`, and lower the watermark to `epoch`. Such files belong to no
    * committed snapshot. A stale base would hide the re-run's own deltas
    * once the re-run reaches its epoch; a stale delta survives wherever the
    * re-run of its epoch leaves that bucket empty, and would mark urls the
    * new timeline never fetched as seen.
    */
  def dropAbove(conf: Configuration, epoch: Int): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return
    fs.listStatus(p).foreach { d =>
      if (d.isDirectory && d.getPath.getName.startsWith("bucket="))
        fs.listStatus(d.getPath).foreach { f =>
          val name = f.getPath.getName
          if ((name.startsWith("c") || name.startsWith("e")) && name.endsWith(".seen") &&
            scala.util.Try(name.substring(1).stripSuffix(".seen").toInt)
              .toOption.exists(_ > epoch))
            fs.delete(f.getPath, false)
        }
    }
    if (checkedWatermark(conf).exists(_ > epoch)) writeMeta(conf, epoch)
  }

  /** Write the epoch's url delta (single string column) as one sorted shard
    * file per non-empty bucket. Urls are deduplicated within the delta; the
    * caller guarantees cross-epoch disjointness (an url is fetched once).
    */
  def writeDelta(urls: DataFrame, epoch: Int): Unit = {
    require(urls.columns.length == 1,
      s"writeDelta expects a single url column, got ${urls.columns.mkString(",")}")
    writeWith(urls, urls.columns.head, epoch)(_.count())
  }

  /** Run `sink` over `rows` and write their `urlCol` values as the epoch's
    * delta inside the sink's own job. The rows reach the sink repartitioned
    * by `(numBuckets, url)` — the planner drops that exchange when `rows` is
    * already so partitioned — and each sink task writes its buckets' sorted
    * shards once its input is exhausted. The sink must read every row (a
    * parquet write or a count does); the covered-epoch watermark advances
    * after it returns. A retried task rewrites the same shards.
    */
  def writeWith[T](rows: DataFrame, urlCol: String, epoch: Int)(sink: DataFrame => T): T = {
    val (d, nb) = (dir, numBuckets)
    val sconf = new SerializableHadoopConf(
      rows.sparkSession.sparkContext.hadoopConfiguration)
    checkedWatermark(sconf.value) // refuse before writing into a foreign store
    val aligned = rows.repartition(nb, col(urlCol))
    val urlIdx = aligned.schema.fieldIndex(urlCol)
    val tapped = aligned.queryExecution.toRdd.mapPartitions { it =>
      val buckets = new java.util.HashMap[Int, ArrayBuffer[Array[Byte]]]()
      it.map { row =>
        if (!row.isNullAt(urlIdx)) {
          val u = row.getUTF8String(urlIdx)
          buckets.computeIfAbsent(bucketOf(u, nb), _ => ArrayBuffer.empty[Array[Byte]])
            .+= (u.getBytes)
        }
        row
      } ++ { // evaluated once the rows are exhausted
        buckets.forEach((b, urls) => writeShard(s"$d/bucket=$b/e$epoch.seen", urls, sconf.value))
        Iterator.empty
      }
    }
    val out = sink(SqlBridge.frame(rows.sparkSession, tapped, aligned.schema))
    markEpoch(sconf.value, epoch)
    out
  }

  /** DRUM-style periodic merge: per bucket, fold every delta shard with
    * epoch ≤ `upToEpoch` (and any STRICTLY OLDER base) into one
    * `c<upToEpoch>.seen` base file — probe cost stops growing with epoch
    * count (a 500-epoch crawl would otherwise open 500 delta files per
    * consulted bucket). The merge is a STREAMING k-way merge over the
    * already-sorted inputs: memory is O(1) in the bucket's accumulated size
    * (url bytes stream through two temp files), so numBuckets sizing is a
    * probe-side concern only. Compaction never deletes deltas: a resume that
    * truncates snapshots back past this compaction ignores the base (its
    * epoch exceeds the probe's `upToEpoch`) and falls back to the per-epoch
    * deltas, so exact resume is preserved; re-compaction at the same epoch
    * REBUILDS from the deltas (an existing base at `upToEpoch` is never
    * folded into itself), deterministically overwriting any stale
    * old-timeline base. Safe to run concurrently with probes — readers see
    * the base or not, and membership is identical either way.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, upToEpoch: Int): Unit = {
    val (d, nb) = (dir, numBuckets)
    val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    spark.range(0, nb, 1, math.min(nb, 64)).as[Long]
      .foreachPartition { (it: Iterator[Long]) =>
        val conf = sconf.value
        it.foreach(b => compactBucket(s"$d/bucket=$b", upToEpoch, conf))
      }
  }

  /** The bucket of a url Column — `pmod(hash(url), B)`, i.e. EXACTLY Spark's
    * own `HashPartitioning` id function. So `repartition(B, url)` routes each
    * bucket wholly into one partition, and a frame that is already
    * hash-partitioned by url into B partitions (every post-groupBy/distinct
    * candidate frame in the engine) needs no exchange at all: Spark's
    * `EnsureRequirements` drops the redundant repartition.
    */
  def bucketCol(url: Column): Column = pmod(hash(url), lit(numBuckets))

  /** Membership predicate: true iff `url` is in a shard file with epoch ≤
    * `upToEpoch` (exact, byte-equality on UTF-8; null is never seen). Place
    * it above a `repartition(numBuckets, url)` so each task touches few
    * buckets — [[filterUnseen]] does; it is exact under any distribution.
    */
  def seen(url: Column, upToEpoch: Int): Column =
    column(SeenProbe(expression(url), expression(bucketCol(url)), dir, upToEpoch,
      new SerializableHadoopConf(SparkSession.active.sparkContext.hadoopConfiguration)))

  /** Rows of `df` whose `urlCol` is in NO shard file with epoch ≤
    * `upToEpoch`. Exact, schema-preserving. The repartition co-locates each
    * bucket in one task; the planner elides it when `df` is already
    * url-hash-partitioned into numBuckets partitions.
    */
  def filterUnseen(df: DataFrame, urlCol: String, upToEpoch: Int): DataFrame =
    df.repartition(numBuckets, col(urlCol)).filter(!seen(col(urlCol), upToEpoch))
}

object SeenUrlStore {

  /** Shard file layout (all big-endian):
    *   int32 magic, int32 n, int64 offsets[n+1] (relative to data start),
    *   url bytes (concatenated, sorted unsigned-lexicographic = UTF-8 byte
    *   order = code-point order, deduplicated).
    */
  private val Magic = 0x5345454e // "SEEN"

  /** [[SeenUrlStore.bucketCol]] of one url: Spark's `hash` (Murmur3, seed
    * 42) of its UTF-8 bytes, `pmod` the bucket count.
    */
  private def bucketOf(url: UTF8String, numBuckets: Int): Int =
    Math.floorMod(Murmur3HashFunction.hash(url, StringType, 42L).toInt, numBuckets)

  private def compareBytes(a: Array[Byte], b: Array[Byte], bLen: Int): Int = {
    val n = math.min(a.length, bLen)
    var i = 0
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - bLen
  }

  private def tmpName(fin: Path): Path = {
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(tc => s"a${tc.taskAttemptId()}")
      .getOrElse(s"u${java.util.UUID.randomUUID().toString.take(8)}")
    new Path(fin.getParent, s".tmp-${fin.getName}-$attempt")
  }

  private def writeShard(path: String, urls: ArrayBuffer[Array[Byte]],
      conf: Configuration): Unit = {
    val sorted = urls.toArray
    java.util.Arrays.sort(sorted, new java.util.Comparator[Array[Byte]] {
      def compare(a: Array[Byte], b: Array[Byte]): Int = compareBytes(a, b, b.length)
    })
    // dedup adjacent (defensive — the delta should already be distinct)
    var n = 0
    var i = 0
    while (i < sorted.length) {
      if (n == 0 || compareBytes(sorted(i), sorted(n - 1), sorted(n - 1).length) != 0) {
        sorted(n) = sorted(i); n += 1
      }
      i += 1
    }
    val fin = new Path(path)
    val tmp = tmpName(fin)
    val fs = fin.getFileSystem(conf)
    fs.mkdirs(fin.getParent)
    val out = new DataOutputStream(new java.io.BufferedOutputStream(fs.create(tmp, true)))
    try {
      out.writeInt(Magic)
      out.writeInt(n)
      var off = 0L
      var j = 0
      while (j < n) { out.writeLong(off); off += sorted(j).length; j += 1 }
      out.writeLong(off)
      j = 0
      while (j < n) { out.write(sorted(j)); j += 1 }
    } finally out.close()
    FileContext.getFileContext(fin.toUri, conf)
      .rename(tmp, fin, Options.Rename.OVERWRITE)
  }

  /** One bucket's shard files relevant at `upToEpoch`: the newest base
    * (`c<N>.seen`, N ≤ upToEpoch) if any, plus the deltas (`e<i>.seen`) with
    * baseN < i ≤ upToEpoch — newest first (recent epochs are likelier hits
    * for steady-state candidates; the base goes last). With
    * `baseStrictlyBelow` (compaction input selection) a base at exactly
    * `upToEpoch` is EXCLUDED — the target must be rebuilt from deltas, never
    * folded into itself (the truncate-resume stale-base hazard).
    */
  private def selectFiles(bucketDir: String, upToEpoch: Int,
      conf: Configuration, baseStrictlyBelow: Boolean = false)
      : (org.apache.hadoop.fs.FileSystem, Seq[Path], Boolean) = {
    val p = new Path(bucketDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return (fs, Nil, false)
    val named = fs.listStatus(p).toSeq.filter(_.isFile).flatMap { s =>
      val name = s.getPath.getName
      if (!name.endsWith(".seen")) None
      else {
        val kind = name.charAt(0)
        scala.util.Try(name.substring(1).stripSuffix(".seen").toInt).toOption
          .collect { case e if (kind == 'e' || kind == 'c') && e <= upToEpoch =>
            (kind, e, s.getPath)
          }
      }
    }
    val baseAtTarget = named.exists(f => f._1 == 'c' && f._2 == upToEpoch)
    val base = named
      .filter(f => f._1 == 'c' && (!baseStrictlyBelow || f._2 < upToEpoch))
      .sortBy(-_._2).headOption
    val floor = base.map(_._2).getOrElse(Int.MinValue)
    val deltas = named.filter(f => f._1 == 'e' && f._2 > floor)
      .sortBy(-_._2).map(_._3)
    (fs, deltas ++ base.map(_._3).toSeq, baseAtTarget)
  }

  /** All committed shards of one bucket with epoch ≤ upToEpoch, opened for
    * probing.
    */
  private def openBucket(bucketDir: String, upToEpoch: Int,
      conf: Configuration): Seq[SortedShard] = {
    val (fs, files, _) = selectFiles(bucketDir, upToEpoch, conf)
    if (files.isEmpty) return Nil
    // the binary-search path issues many small positioned reads; on a local
    // filesystem Hadoop's ChecksumFileSystem turns each into crc-chunk
    // verification (~100s of µs) — read through the raw fs instead (shard
    // publish is atomic-rename, content integrity is the snapshot layer's)
    val readFs = fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    files.map(path => SortedShard.open(readFs.open(path)))
  }

  /** Sequential reader over one sorted shard's entries (compaction input):
    * two forward-only streams (offsets region, data region), O(1) memory.
    */
  private final class ShardCursor(fs: FileSystem, path: Path) {
    private val offIn = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(path)))
    require(offIn.readInt() == Magic, s"bad seen-shard magic in $path")
    val n: Int = offIn.readInt()
    private var prevOff: Long = if (n >= 0) offIn.readLong() else 0L
    private val dataRaw = fs.open(path)
    dataRaw.seek(8L + 8L * (n + 1))
    private val dataIn = new java.io.DataInputStream(
      new java.io.BufferedInputStream(dataRaw))
    private var i = 0
    var current: Array[Byte] = null

    /** Load the next entry into `current`; false (and closed) at end. */
    def advance(): Boolean =
      if (i >= n) { current = null; close(); false }
      else {
        val nextOff = offIn.readLong()
        val buf = new Array[Byte]((nextOff - prevOff).toInt)
        prevOff = nextOff
        dataIn.readFully(buf)
        current = buf
        i += 1
        true
      }

    def close(): Unit = {
      try offIn.close() finally dataIn.close()
    }
  }

  /** Fold one bucket's strictly-older base + deltas (≤ upToEpoch) into
    * `c<upToEpoch>.seen` via a streaming k-way merge. No-op when there is at
    * most one input file AND no stale base at the target epoch to overwrite.
    */
  private def compactBucket(bucketDir: String, upToEpoch: Int,
      conf: Configuration): Unit = {
    val (fs, files, staleBase) =
      selectFiles(bucketDir, upToEpoch, conf, baseStrictlyBelow = true)
    if (files.isEmpty || (files.size <= 1 && !staleBase)) return
    val cursors = new java.util.ArrayList[ShardCursor]()
    try {
      val pq = new java.util.PriorityQueue[ShardCursor](
        math.max(1, files.size),
        new java.util.Comparator[ShardCursor] {
          def compare(a: ShardCursor, b: ShardCursor): Int =
            compareBytes(a.current, b.current, b.current.length)
        })
      files.foreach { f =>
        val c = new ShardCursor(fs, f)
        cursors.add(c)
        if (c.advance()) pq.add(c)
      }
      // stream the merged data region and the offsets region into two temp
      // files (heap stays O(1) in bucket size), then assemble the final shard
      val fin = new Path(s"$bucketDir/c$upToEpoch.seen")
      val dataTmp = new Path(bucketDir, s"${tmpName(fin).getName}-data")
      val offTmp = new Path(bucketDir, s"${tmpName(fin).getName}-off")
      val dataOut = new DataOutputStream(
        new java.io.BufferedOutputStream(fs.create(dataTmp, true)))
      val offOut = new DataOutputStream(
        new java.io.BufferedOutputStream(fs.create(offTmp, true)))
      var n = 0
      var off = 0L
      var last: Array[Byte] = null
      try {
        offOut.writeLong(0L)
        while (!pq.isEmpty) {
          val c = pq.poll()
          val cur = c.current
          // dedup across inputs (equal keys collapse to one entry)
          if (last == null || compareBytes(cur, last, last.length) != 0) {
            dataOut.write(cur)
            off += cur.length
            offOut.writeLong(off)
            n += 1
            last = cur
          }
          if (c.advance()) pq.add(c)
        }
      } finally { dataOut.close(); offOut.close() }
      val tmp = tmpName(fin)
      val out = new DataOutputStream(
        new java.io.BufferedOutputStream(fs.create(tmp, true)))
      try {
        out.writeInt(Magic)
        out.writeInt(n)
        copyStream(fs, offTmp, out)
        copyStream(fs, dataTmp, out)
      } finally out.close()
      fs.delete(dataTmp, false)
      fs.delete(offTmp, false)
      FileContext.getFileContext(fin.toUri, conf)
        .rename(tmp, fin, Options.Rename.OVERWRITE)
    } finally cursors.forEach(c => try c.close() catch { case _: Exception => () })
  }

  private def copyStream(fs: FileSystem, src: Path, out: DataOutputStream): Unit = {
    val in = fs.open(src)
    try {
      val buf = new Array[Byte](1 << 16)
      var r = in.read(buf)
      while (r >= 0) {
        if (r > 0) out.write(buf, 0, r)
        r = in.read(buf)
      }
    } finally in.close()
  }

  /** One open sorted shard, loaded LAZILY: opening reads only the 8-byte
    * header, so shards that are never consulted (probes resolve in a newer
    * epoch's shard first — the newest-first early-exit) cost nothing. On
    * first search the offsets array is heap-loaded (8 B per url); url bytes
    * are then fetched by positioned read during binary search — O(log n)
    * small reads per probe, flat in shard size. Probing is SELF-ADAPTIVE:
    * once a shard has answered a dense fraction of its size (probes·8 > n),
    * the data region is bulk-loaded once and searched in memory — the
    * regime where one sequential read beats the positioned reads (small
    * shards ≤ 4 MB bulk-load on first search outright; regions ≥ 1 GiB
    * never bulk-load, the positioned-read path has no size limit).
    */
  private final class SortedShard(in: FSDataInputStream, n: Int) {

    private var offsets: Array[Long] = null
    private var dataStart: Long = 0L
    private var dataLen: Long = 0L
    private var bulk: Array[Byte] = null
    private var probes: Long = 0L
    // positioned-read cache: the top of the binary-search tree is shared by
    // every probe of the shard, so most reads repeat a small index set
    private val entryCache = new java.util.HashMap[Int, Array[Byte]]()

    private def ensureLoaded(): Unit = if (offsets == null) {
      // ONE bulk read for the offsets region — element-wise readLong would
      // cost n small filesystem reads per open
      val raw = new Array[Byte]((n + 1) * 8)
      in.readFully(8L, raw, 0, raw.length)
      val bb = java.nio.ByteBuffer.wrap(raw)
      offsets = new Array[Long](n + 1)
      var i = 0
      while (i <= n) { offsets(i) = bb.getLong(); i += 1 }
      dataStart = 8L + 8L * (n + 1)
      dataLen = offsets(n)
      // a modest shard: one sequential read beats positioned reads outright
      if (dataLen <= (4 << 20)) loadBulk()
    }

    private def loadBulk(): Unit = if (bulk == null && dataLen < (1L << 30)) {
      bulk = new Array[Byte](dataLen.toInt)
      in.readFully(dataStart, bulk, 0, bulk.length)
    }

    private def cmpAt(idx: Int, key: Array[Byte]): Int = {
      val off = offsets(idx)
      val len = (offsets(idx + 1) - off).toInt
      if (bulk != null) {
        val base = off.toInt
        val m = math.min(len, key.length)
        var i = 0
        while (i < m) {
          val c = (bulk(base + i) & 0xff) - (key(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        len - key.length
      } else {
        var buf = entryCache.get(idx)
        if (buf == null) {
          buf = new Array[Byte](len)
          in.readFully(dataStart + off, buf, 0, len)
          if (entryCache.size < 65536) entryCache.put(idx, buf)
        }
        -compareBytes(key, buf, buf.length)
      }
    }

    def contains(key: Array[Byte]): Boolean = {
      if (n == 0) return false
      ensureLoaded()
      probes += 1
      // dense probing: upgrade to the one-shot bulk load + in-memory search
      if (bulk == null && probes * 8 > n) loadBulk()
      var lo = 0
      var hi = n - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = cmpAt(mid, key)
        if (c == 0) return true
        else if (c < 0) lo = mid + 1
        else hi = mid - 1
      }
      false
    }

    def close(): Unit = in.close()
  }

  private object SortedShard {
    def open(in: FSDataInputStream): SortedShard = {
      val magic = in.readInt()
      require(magic == Magic, f"bad seen-shard magic 0x$magic%08x")
      val n = in.readInt()
      new SortedShard(in, n)
    }
  }

  /** The expression behind [[SeenUrlStore.seen]]. Rows stream through it one
    * at a time: a task opens a bucket's files (epoch ≤ `upToEpoch`) on first
    * touch, keeps them open for the task — open-file count = distinct buckets
    * per task, one when the frame is bucket-aligned — and closes them when
    * the task completes. `bucket` is the store's [[SeenUrlStore.bucketCol]]
    * of `url`. Nondeterministic so the optimizer keeps it above the
    * co-locating repartition (a deterministic filter is pushed below it).
    */
  private final case class SeenProbe(url: Expression, bucket: Expression,
      dir: String, upToEpoch: Int, conf: SerializableHadoopConf)
      extends BinaryExpression with Nondeterministic with CodegenFallback {
    override def left: Expression = url
    override def right: Expression = bucket
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    override def prettyName: String = "seen"
    override def flatArguments: Iterator[Any] = Iterator(url, dir, upToEpoch)

    @transient private var open: java.util.HashMap[Int, Seq[SortedShard]] = _

    override protected def initializeInternal(partitionIndex: Int): Unit = {
      val opened = new java.util.HashMap[Int, Seq[SortedShard]]()
      open = opened
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
        opened.values().forEach(_.foreach(_.close()))
      })
    }

    override protected def evalInternal(input: InternalRow): Any = {
      val u = url.eval(input).asInstanceOf[UTF8String]
      u != null && {
        val b = bucket.eval(input).asInstanceOf[Int]
        var shards = open.get(b)
        if (shards == null) {
          shards = openBucket(s"$dir/bucket=$b", upToEpoch, conf.value)
          open.put(b, shards)
        }
        val key = u.getBytes
        shards.exists(_.contains(key))
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SeenProbe =
      copy(url = newLeft, bucket = newRight)
  }
}
