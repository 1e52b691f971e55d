package graft.sketch

/** From-scratch cuckoo filter (Fan et al., CoNEXT'14 design: 4-slot buckets,
  * 16-bit fingerprints, partial-key cuckoo hashing i2 = i1 ^ hash(fp)) — the
  * north_star's deletable-membership fallback for the URL-seen set.
  *
  * Merge is NOT naturally closed for cuckoo filters (SURVEY.md §7.3 #5):
  * [[merge]] re-inserts the other filter's fingerprints and reports failure
  * when occupancy is too high; [[SeenSketch]] wraps this with the documented
  * degrade-to-always-maybe fallback so treeAggregate merging always succeeds.
  */
final class CuckooSketch(val numBuckets: Int) extends Serializable {
  require(numBuckets > 0 && (numBuckets & (numBuckets - 1)) == 0,
    "numBuckets must be a power of two")
  final val SlotsPerBucket = 4
  final val MaxKicks = 500
  // fingerprints: 16-bit, 0 = empty slot
  private val slots = new Array[Short](numBuckets * SlotsPerBucket)
  private var count = 0L
  private var seed = 0x5DEECE66DL // deterministic eviction choice counter

  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  @inline private def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  @inline private def fingerprint(h: Long): Short = {
    val f = ((h >>> 48) & 0xffff).toInt
    (if (f == 0) 1 else f).toShort // 0 is the empty marker
  }

  @inline private def bucket1(h: Long): Int = (h & (numBuckets - 1)).toInt
  @inline private def altBucket(b: Int, fp: Short): Int =
    (b ^ (mix64(fp & 0xffffL) & (numBuckets - 1)).toInt) & (numBuckets - 1)

  private def tryInsertAt(b: Int, fp: Short): Boolean = {
    var s = 0
    while (s < SlotsPerBucket) {
      val idx = b * SlotsPerBucket + s
      if (slots(idx) == 0) { slots(idx) = fp; return true }
      s += 1
    }
    false
  }

  def add(x: String): Boolean =
    addBytes(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** false ⇒ table too full (caller must fall back). */
  def addBytes(bytes: Array[Byte]): Boolean = {
    val h = fnv64(bytes)
    addFingerprint(bucket1(h), fingerprint(mix64(h)))
  }

  def addFingerprint(b1: Int, fp0: Short): Boolean = {
    val b2 = altBucket(b1, fp0)
    if (tryInsertAt(b1, fp0) || tryInsertAt(b2, fp0)) { count += 1; return true }
    // cuckoo eviction
    var b = if ((mix64(seed) & 1) == 0) b1 else b2
    var fp = fp0
    seed += 1
    var kicks = 0
    while (kicks < MaxKicks) {
      val slot = (mix64(seed) & 0x7fffffff).toInt % SlotsPerBucket
      seed += 1
      val idx = b * SlotsPerBucket + slot
      val evicted = slots(idx)
      slots(idx) = fp
      fp = evicted
      b = altBucket(b, fp)
      if (tryInsertAt(b, fp)) { count += 1; return true }
      kicks += 1
    }
    // restore nothing (a fingerprint was displaced into our hand; re-insert
    // failing means the filter is saturated — caller degrades to always-maybe,
    // and the displaced fingerprint loss is irrelevant post-fallback)
    false
  }

  def mightContain(x: String): Boolean =
    mightContainBytes(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def mightContainBytes(bytes: Array[Byte]): Boolean = {
    val h = fnv64(bytes)
    val fp = fingerprint(mix64(h))
    val b1 = bucket1(h)
    val b2 = altBucket(b1, fp)
    var s = 0
    while (s < SlotsPerBucket) {
      if (slots(b1 * SlotsPerBucket + s) == fp) return true
      if (slots(b2 * SlotsPerBucket + s) == fp) return true
      s += 1
    }
    false
  }

  /** Deletable membership — the property blooms lack. */
  def remove(x: String): Boolean = {
    val bytes = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = fnv64(bytes)
    val fp = fingerprint(mix64(h))
    val b1 = bucket1(h)
    val b2 = altBucket(b1, fp)
    var s = 0
    while (s < SlotsPerBucket) {
      if (slots(b1 * SlotsPerBucket + s) == fp) {
        slots(b1 * SlotsPerBucket + s) = 0; count -= 1; return true
      }
      if (slots(b2 * SlotsPerBucket + s) == fp) {
        slots(b2 * SlotsPerBucket + s) = 0; count -= 1; return true
      }
      s += 1
    }
    false
  }

  def loadFactor: Double = count.toDouble / (numBuckets.toLong * SlotsPerBucket)

  /** Re-insert other's fingerprints; false ⇒ saturated (fallback needed).
    * Requires equal numBuckets so (bucket, fp) pairs stay valid.
    */
  def merge(other: CuckooSketch): Boolean = {
    require(other.numBuckets == numBuckets, "incompatible cuckoo sketches")
    var b = 0
    while (b < other.numBuckets) {
      var s = 0
      while (s < SlotsPerBucket) {
        val fp = other.slots(b * SlotsPerBucket + s)
        if (fp != 0 && !addFingerprint(b, fp)) return false
        s += 1
      }
      b += 1
    }
    true
  }
}

object CuckooSketch {
  def forExpected(expectedItems: Long): CuckooSketch =
    new CuckooSketch(bucketsFor(expectedItems))

  /** Table bytes of [[forExpected]]'s filter (4 slots × 16 bits per bucket),
    * known without allocating it.
    */
  def bytesFor(expectedItems: Long): Long = bucketsFor(expectedItems) * 8L

  private def bucketsFor(expectedItems: Long): Int = {
    // target ≤ ~84% load (practical cuckoo ceiling at b=4); floor of 4
    // buckets keeps the structure honest while letting deliberately tiny
    // filters saturate (the degrade-to-maybe path is itself under test)
    val needed = math.max(4L, math.ceil(expectedItems / 0.84 / 4).toLong)
    var buckets = 4
    while (buckets < needed && buckets < (1 << 30)) buckets <<= 1
    buckets
  }
}

/** URL-seen sketch facade (north_star: "bloom-filter (with cuckoo-filter
  * fallback) URL-seen set"): a deletable cuckoo sketch that degrades to the
  * conservative "always maybe" answer when insert/merge saturates, so
  * treeAggregate builds never fail — correctness is preserved because
  * `mightContain == true` only sends a row on to the authoritative store
  * probe (the engine's dedup filter). A degraded sketch stays degraded: every
  * candidate takes the exact probe (it stops pruning, nothing else changes)
  * until the seen set outgrows its capacity and the engine rebuilds a larger
  * one from the full seen set, as it does for the bloom. SURVEY.md §7.3 #5
  * documents why cuckoo merge is not closed.
  */
final class SeenSketch(expectedItems: Long) extends UrlSketch {
  private val cuckoo: CuckooSketch = CuckooSketch.forExpected(expectedItems)
  private var degraded: Boolean = false

  def add(x: String): Unit =
    if (!degraded && !cuckoo.add(x)) degraded = true

  /** Deletable membership (the property blooms lack). No-op once degraded. */
  def remove(x: String): Boolean = !degraded && cuckoo.remove(x)

  /** No false negatives, even across degradation. */
  def mightContain(x: String): Boolean = degraded || cuckoo.mightContain(x)

  /** UTF-8-bytes form for the plan-side probe expression (avoids a String
    * round-trip per row).
    */
  def mightContainBytes(bytes: Array[Byte]): Boolean =
    degraded || cuckoo.mightContainBytes(bytes)

  def isDegraded: Boolean = degraded

  def bytes: Long = CuckooSketch.bytesFor(expectedItems)

  def addAll(urls: org.apache.spark.rdd.RDD[String]): Unit =
    merge(SeenSketch.build(urls, expectedItems))

  def merge(other: SeenSketch): SeenSketch = {
    if (degraded || other.degraded) degraded = true
    else if (!cuckoo.merge(other.cuckoo)) degraded = true
    this
  }
}

object SeenSketch {
  /** Distributed build mirroring [[BloomSketch.build]]: per-partition
    * sketches, log-depth treeAggregate merge. Saturation during any seq/comb
    * step flips the result to the degraded always-maybe state — conservative
    * (extra anti-join traffic), never a false negative.
    */
  def build(urls: org.apache.spark.rdd.RDD[String], expectedItems: Long): SeenSketch =
    UrlSketch.treeBuild(urls, new SeenSketch(expectedItems))(_.add(_), _.merge(_))
}
