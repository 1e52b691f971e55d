package graft.util

import org.apache.spark.sql.Dataset

/** The input-parallelism rule of the CPU-heavy per-row corpus operators
  * (guide §2.5: fix input skew right after the read).
  *
  * A scan's tasks can only be as many as its splits. A small table written
  * as one parquet file is one split, so one task would do every row while
  * the other cores idle. The rule reads only the partition count: a file cut
  * into several byte-range splits whose row group sits in one of them passes
  * as wide, which is why `MediaOps.cachedCorpus` writes one file per core.
  */
object InputParallelism {

  /** `ds` repartitioned to `defaultParallelism` when it has fewer partitions
    * than that; `ds` itself otherwise. When it fires, rows move once before
    * the heavy work.
    */
  def spread[T](ds: Dataset[T]): Dataset[T] = {
    val par = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < par) ds.repartition(par) else ds
  }
}
