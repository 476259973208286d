package graft.seen

/** Minimal, serialization-friendly Bloom filter over 64-bit keys.
  *
  * Own implementation (not sketch libs, not Spark's internal
  * `bloom_filter_agg`) because the north rule fixes an FPP budget
  * (≤ 1e-6 per segment at 10^10 frontier entries) and the segment bytes are
  * persisted as table rows — we need a stable, versioned binary layout.
  *
  * Layout: [numBits: Int][numHashes: Int][words: Long...], big-endian via
  * ByteBuffer. Double hashing (Kirsch–Mitzenmacher): the i-th probe is
  * h1 + i*h2 over the bit space, derived from the input key with two
  * splitmix64 rounds — input keys are already xxhash64(url) values.
  */
final class BloomFilter(val numBits: Int, val numHashes: Int,
    val words: Array[Long]) extends Serializable {

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def put(key: Long): Unit = {
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5851f42d4c957f2dL) | 1L // odd → full-period stride
    var i = 0
    while (i < numHashes) {
      val bit = (((h1 + i * h2) % numBits + numBits) % numBits).toInt
      words(bit >>> 6) |= (1L << (bit & 63))
      i += 1
    }
  }

  def mightContain(key: Long): Boolean = {
    val h1 = mix(key)
    val h2 = mix(key ^ 0x5851f42d4c957f2dL) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = (((h1 + i * h2) % numBits + numBits) % numBits).toInt
      if ((words(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def mergeInPlace(other: BloomFilter): BloomFilter = {
    require(other.numBits == numBits && other.numHashes == numHashes,
      s"incompatible bloom segments: ($numBits,$numHashes) vs (${other.numBits},${other.numHashes})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    this
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(numBits).putInt(numHashes)
    var i = 0
    while (i < words.length) { bb.putLong(words(i)); i += 1 }
    bb.array()
  }
}

object BloomFilter {

  /** Optimal sizing: m = -n ln p / (ln 2)^2, k = (m/n) ln 2.
    * At n=10^7 per segment and p=1e-6 → m ≈ 287 Mbit ≈ 36 MB, k=20 —
    * i.e. a 10^10 frontier splits into ~1000 hash-range segments of
    * ~36 MB each, co-partitioned with the candidate stream.
    */
  def create(expectedItems: Long, fpp: Double): BloomFilter = {
    val numBits = bitsFor(expectedItems, fpp)
    val numHashes = math.max(1,
      math.round(numBits.toDouble / expectedItems * math.log(2)).toInt)
    new BloomFilter(numBits, numHashes, new Array[Long]((numBits + 63) >>> 6))
  }

  /** The length of [[create]]'s filter serialized, with nothing allocated. */
  def serializedSize(expectedItems: Long, fpp: Double): Long =
    8L + ((bitsFor(expectedItems, fpp) + 63L) >>> 6) * 8L

  private def bitsFor(expectedItems: Long, fpp: Double): Int = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1)
    val ln2 = math.log(2)
    val mReal = -expectedItems * math.log(fpp) / (ln2 * ln2)
    math.min(mReal.ceil.toLong, Int.MaxValue.toLong - 64).toInt
  }

  def deserialize(bytes: Array[Byte]): BloomFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numBits = bb.getInt
    val numHashes = bb.getInt
    val words = new Array[Long]((numBits + 63) >>> 6)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong; i += 1 }
    new BloomFilter(numBits, numHashes, words)
  }

  /** OR-merge two serialized filters without object materialization: after
    * the 8-byte (numBits, numHashes) header check, bit-union is plain byte
    * OR. Used by FrontierStore's segment merge — bit-union of filters
    * over the same parameters equals the filter built from the unioned key
    * set (order-free), so incremental maintenance is exact w.r.t. the full
    * rebuild.
    */
  def mergeSerialized(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    require(a.length == b.length &&
      java.util.Arrays.equals(a.take(8), b.take(8)),
      "incompatible serialized bloom segments")
    val out = new Array[Byte](a.length)
    System.arraycopy(a, 0, out, 0, 8)
    var i = 8
    while (i < a.length) { out(i) = (a(i) | b(i)).toByte; i += 1 }
    out
  }

  /** Probe without materializing the word array — used by the codegen'd
    * segment probe (UrlSeen.probeSegments); reads bits straight from the
    * byte form.
    */
  def mightContainSerialized(bytes: Array[Byte], key: Long): Boolean = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numBits = bb.getInt(0)
    val numHashes = bb.getInt(4)
    var z = key + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    val h1 = z ^ (z >>> 31)
    var y = (key ^ 0x5851f42d4c957f2dL) + 0x9e3779b97f4a7c15L
    y = (y ^ (y >>> 30)) * 0xbf58476d1ce4e5b9L
    y = (y ^ (y >>> 27)) * 0x94d049bb133111ebL
    val h2 = (y ^ (y >>> 31)) | 1L
    var i = 0
    while (i < numHashes) {
      val bit = (((h1 + i * h2) % numBits + numBits) % numBits).toInt
      val word = bb.getLong(8 + ((bit >>> 6) << 3))
      if ((word & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }
}
