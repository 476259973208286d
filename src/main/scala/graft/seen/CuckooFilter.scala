package graft.seen

/** Bucketized cuckoo filter over 64-bit keys — the second approximate
  * seen-set structure the north star names ("Bloom/cuckoo URL-seen").
  *
  * What it adds over [[BloomFilter]]: DELETION. A Bloom filter's bits are
  * shared between keys, so clearing any bit corrupts other keys' membership
  * — a seen-set retraction (recrawl-this-URL, purge-this-host) forces a
  * full rebuild of the segment. A cuckoo filter stores one fingerprint per
  * key in one of two candidate buckets, so removing a key removes exactly
  * one slot — the prefilter can track a seen table that shrinks.
  *
  * Public algorithm (Fan, Andersen, Kaminsky, Mitzenmacher: "Cuckoo
  * Filter: Practically Better Than Bloom", CoNEXT 2014), re-derived:
  *
  *  - 4 slots per bucket, 32-bit fingerprints → theoretical FPP bound
  *    ≈ 2·4 / 2^32 ≈ 1.9e-9, under the north rule's 1e-6 segment budget;
  *  - partial-key cuckoo hashing: bucket i1 = h(key), i2 = i1 XOR h(fp) —
  *    XOR makes the pair involutive, so relocation needs only the slot's
  *    fingerprint (numBuckets is a power of two so XOR stays in range);
  *  - insertion relocates via a DETERMINISTIC eviction walk (splitmix on a
  *    kick counter — no RNG state, rebuild-stable), failing loudly past
  *    MaxKicks (the caller sized the filter; a full filter must not
  *    silently degrade);
  *  - load factor ≤ 0.95 at 4 slots/bucket (the paper's bound), enforced
  *    by sizing in [[CuckooFilter.create]].
  *
  * Layout: [numBuckets: Int][slots: Int × numBuckets·4], big-endian; slot
  * 0 is "empty" (fingerprints are forced nonzero). Same
  * serialize/probe-the-bytes contract as BloomFilter so the segment store
  * and codegen probe paths mirror each other.
  */
final class CuckooFilter(val numBuckets: Int, val slots: Array[Int])
    extends Serializable {

  import CuckooFilter.{SlotsPerBucket, MaxKicks, mix}

  @inline private def fingerprint(key: Long): Int = {
    val f = (mix(key) >>> 32).toInt
    if (f == 0) 1 else f
  }
  @inline private def bucketOf(key: Long): Int =
    (mix(key ^ 0x5851f42d4c957f2dL) & (numBuckets - 1)).toInt
  @inline private def altBucket(b: Int, fp: Int): Int =
    (b ^ mix(fp.toLong & 0xffffffffL)).toInt & (numBuckets - 1)

  private def tryInsertAt(b: Int, fp: Int): Boolean = {
    val base = b * SlotsPerBucket
    var s = 0
    while (s < SlotsPerBucket) {
      if (slots(base + s) == 0) { slots(base + s) = fp; return true }
      s += 1
    }
    false
  }

  /** Insert; throws IllegalStateException when the eviction walk exceeds
    * MaxKicks (filter effectively full — caller must resize).
    */
  def put(key: Long): Unit = {
    var fp = fingerprint(key)
    val b1 = bucketOf(key)
    if (tryInsertAt(b1, fp)) return
    val b2 = altBucket(b1, fp)
    if (tryInsertAt(b2, fp)) return
    // eviction walk: deterministic victim slot from a splitmix'd counter
    var b = b2
    var kicks = 0
    while (kicks < MaxKicks) {
      val victim = (mix(kicks.toLong ^ (b.toLong << 20)) &
        (SlotsPerBucket - 1)).toInt
      val idx = b * SlotsPerBucket + victim
      val evicted = slots(idx)
      slots(idx) = fp
      fp = evicted
      b = altBucket(b, fp)
      if (tryInsertAt(b, fp)) return
      kicks += 1
    }
    throw new IllegalStateException(
      s"cuckoo filter full after $MaxKicks kicks (numBuckets=$numBuckets); " +
        "resize the segment")
  }

  private def bucketHas(b: Int, fp: Int): Boolean = {
    val base = b * SlotsPerBucket
    var s = 0
    while (s < SlotsPerBucket) {
      if (slots(base + s) == fp) return true
      s += 1
    }
    false
  }

  def mightContain(key: Long): Boolean = {
    val fp = fingerprint(key)
    val b1 = bucketOf(key)
    bucketHas(b1, fp) || bucketHas(altBucket(b1, fp), fp)
  }

  /** Remove ONE copy of the key's fingerprint; true iff something was
    * removed. Only call for keys actually inserted (deleting a non-member
    * that false-positives would corrupt a real member — the standard
    * cuckoo-filter contract; the seen-store only retracts known-seen URLs).
    */
  def delete(key: Long): Boolean = {
    val fp = fingerprint(key)
    def rm(b: Int): Boolean = {
      val base = b * SlotsPerBucket
      var s = 0
      while (s < SlotsPerBucket) {
        if (slots(base + s) == fp) { slots(base + s) = 0; return true }
        s += 1
      }
      false
    }
    val b1 = bucketOf(key)
    rm(b1) || rm(altBucket(b1, fp))
  }

  def serialize(): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + slots.length * 4)
    bb.putInt(numBuckets)
    var i = 0
    while (i < slots.length) { bb.putInt(slots(i)); i += 1 }
    bb.array()
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  val MaxKicks = 500
  val MaxLoadFactor = 0.95

  @inline private[seen] def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Size for `expectedItems` at ≤ 0.95 load: numBuckets = next power of
    * two ≥ items / (4 · 0.95). At 10^7 items/segment → 2^22 buckets ×
    * 4 slots × 4 B = 64 MB/segment (vs 36 MB Bloom at 1e-6 — deletion
    * costs ~1.8× bytes at a 500× better FPP).
    */
  def create(expectedItems: Long): CuckooFilter = {
    require(expectedItems > 0)
    val minBuckets =
      math.ceil(expectedItems / (SlotsPerBucket * MaxLoadFactor)).toLong
    var nb = 1L
    while (nb < minBuckets) nb <<= 1
    require(nb * SlotsPerBucket * 4 < Int.MaxValue.toLong,
      s"cuckoo segment too large ($nb buckets); raise nSegments")
    new CuckooFilter(nb.toInt, new Array[Int](nb.toInt * SlotsPerBucket))
  }

  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numBuckets = bb.getInt
    val slots = new Array[Int](numBuckets * SlotsPerBucket)
    var i = 0
    while (i < slots.length) { slots(i) = bb.getInt; i += 1 }
    new CuckooFilter(numBuckets, slots)
  }

  /** Probe the serialized form directly — no array materialization; the
    * codegen'd expression calls this per row (mirror of
    * BloomFilter.mightContainSerialized).
    */
  def mightContainSerialized(bytes: Array[Byte], key: Long): Boolean = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numBuckets = bb.getInt(0)
    var f = (mix(key) >>> 32).toInt
    if (f == 0) f = 1
    val b1 = (mix(key ^ 0x5851f42d4c957f2dL) & (numBuckets - 1)).toInt
    val b2 = (b1 ^ mix(f.toLong & 0xffffffffL)).toInt & (numBuckets - 1)
    def has(b: Int): Boolean = {
      val base = 4 + b * SlotsPerBucket * 4
      var s = 0
      while (s < SlotsPerBucket) {
        if (bb.getInt(base + s * 4) == f) return true
        s += 1
      }
      false
    }
    has(b1) || has(b2)
  }
}
