package graft.sketch

/** From-scratch serializable Bloom filter for the URL-seen fast path
  * (SURVEY.md §2 O-7b). Built per partition and merged via
  * `rdd.treeAggregate` (north_star-mandated); the merged sketch is broadcast
  * back and used as a pre-filter in front of the authoritative anti-join:
  * `!mightContain(u)` ⇒ u is definitely NOT in seen (no false negatives),
  * so only the `mightContain` slice needs the join.
  *
  * Double hashing (Kirsch–Mitzenmacher): h_i = h1 + i·h2 over an FNV-64 +
  * splitmix64 finalizer pair.
  */
final class BloomSketch(val numBits: Long, val numHashes: Int) extends UrlSketch {
  require(numBits > 0 && (numBits & 63) == 0, "numBits must be a positive multiple of 64")
  val words = new Array[Long]((numBits >> 6).toInt)
  def bytes: Long = numBits >> 3

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

  def add(s: String): Unit = addBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def addBytes(bytes: Array[Byte]): Unit = {
    val h1 = fnv64(bytes)
    val h2 = mix64(h1) | 1L
    var i = 0
    var h = h1
    while (i < numHashes) {
      val bit = (h & Long.MaxValue) % numBits
      words((bit >> 6).toInt) |= (1L << (bit & 63))
      h += h2
      i += 1
    }
  }

  def mightContain(s: String): Boolean =
    mightContainBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def mightContainBytes(bytes: Array[Byte]): Boolean = {
    val h1 = fnv64(bytes)
    val h2 = mix64(h1) | 1L
    var i = 0
    var h = h1
    while (i < numHashes) {
      val bit = (h & Long.MaxValue) % numBits
      if ((words((bit >> 6).toInt) & (1L << (bit & 63))) == 0L) return false
      h += h2
      i += 1
    }
    true
  }

  /** In-place OR-merge; associative and commutative (SketchSpec property) —
    * the precondition for treeAggregate correctness.
    */
  def merge(other: BloomSketch): BloomSketch = {
    require(other.numBits == numBits && other.numHashes == numHashes,
      "incompatible sketches")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    this
  }

  def addAll(urls: org.apache.spark.rdd.RDD[String]): Unit =
    merge(BloomSketch.build(urls, new BloomSketch(numBits, numHashes)))
}

object BloomSketch {
  /** Standard sizing: m = -n·ln(p)/ln(2)^2, k = m/n·ln(2). */
  def sizing(expectedItems: Long, fpp: Double): (Long, Int) = {
    val n = math.max(expectedItems, 64L)
    val m0 = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val m = ((m0 + 63) >> 6) << 6
    val k = math.max(1, math.round(m.toDouble / n * math.log(2)).toInt)
    (m, k)
  }

  def forExpected(expectedItems: Long, fpp: Double): BloomSketch = {
    val (m, k) = sizing(expectedItems, fpp)
    new BloomSketch(m, k)
  }

  /** north_star build path: per-partition sketches, log-depth merge. */
  def build(urls: org.apache.spark.rdd.RDD[String], expectedItems: Long,
      fpp: Double = 0.01): BloomSketch =
    build(urls, forExpected(expectedItems, fpp))

  private def build(urls: org.apache.spark.rdd.RDD[String], zero: BloomSketch): BloomSketch =
    UrlSketch.treeBuild(urls, zero)(_.add(_), _.merge(_))
}
