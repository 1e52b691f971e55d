package graft.sketch

import org.apache.spark.rdd.RDD

/** The broadcast URL-seen sketch the crawl engine probes in front of the
  * exact seen store (SURVEY.md §2 O-7b): `mightContainBytes(u) == false`
  * ⇒ u is definitely NOT seen (no false negatives), so only the maybe-seen
  * slice pays the authoritative check. Implemented by the bloom
  * ([[BloomSketch]], the default) and the cuckoo fallback ([[SeenSketch]]);
  * the engine holds one of either behind this type.
  */
trait UrlSketch extends Serializable {
  /** Membership on the url's UTF-8 bytes (the plan-side probe's form). */
  def mightContainBytes(bytes: Array[Byte]): Boolean

  /** Table size in bytes — what one broadcast of this sketch ships. */
  def bytes: Long

  /** Fold `urls` into this sketch in place: per-partition sketches of this
    * one's geometry, treeAggregate-merged (north_star build path), then
    * merged here on the driver.
    */
  def addAll(urls: RDD[String]): Unit
}

object UrlSketch {
  /** Log-depth treeAggregate of per-partition sketches built from `zero`. */
  private[sketch] def treeBuild[S <: UrlSketch: scala.reflect.ClassTag](
      urls: RDD[String], zero: S)(add: (S, String) => Unit, merge: (S, S) => S): S = {
    val depth = math.max(2,
      (math.log(math.max(urls.getNumPartitions, 2)) / math.log(2)).toInt)
    urls.treeAggregate(zero)(
      seqOp = (s, u) => { add(s, u); s },
      combOp = merge,
      depth = depth)
  }
}
