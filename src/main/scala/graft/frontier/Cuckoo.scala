package graft.frontier

/** Cuckoo filter over 64-bit url hashes (partial-key cuckoo hashing,
  * Fan et al., CoNEXT'14) — the north rule's alternative to the
  * partitioned Bloom seen-set ([[Bloom]]). Same deployment shape: one
  * filter per seen-set partition (`pmod(url_hash, P)`), blobs small and
  * broadcastable, P scales with the frontier.
  *
  * vs Bloom: supports DELETE (a frontier that un-sees URLs on recrawl
  * policies needs it; Bloom cannot), ~same space at 16-bit fingerprints
  * with lower false-positive rate, but inserts can fail when load gets
  * high — failed inserts go to an exact stash so the filter NEVER
  * false-negatives (a false negative would re-crawl a seen URL, the one
  * unacceptable error for the seen-set).
  *
  * Determinism: fingerprints/buckets derive from splitmix64 of the key;
  * the eviction walk is seeded by the key and attempt counter — no RNG
  * state, so a rebuilt filter over the same insert sequence is
  * byte-identical. (Layout across DIFFERENT insert orders may differ;
  * membership answers do not.)
  */
final class Cuckoo(
    val table: Array[Short], // numBuckets * bucketSize slots; 0 = empty
    val bucketSize: Int,
    val maxKicks: Int,
    val stash: scala.collection.mutable.ArrayBuffer[Long])
  extends SeenFilter {

  private def numBuckets: Int = table.length / bucketSize
  private def mask: Int = numBuckets - 1

  // the ONE splitmix64 copy — blob compatibility hangs on these constants
  private def mix(z0: Long): Long = graft.ops.PortableHash.mix64(z0)

  /** 16-bit nonzero fingerprint. */
  private def fpOf(h: Long): Short = {
    val f = ((mix(h) >>> 48) & 0xffffL).toShort
    if (f == 0) 1.toShort else f
  }
  private def i1Of(h: Long): Int = (mix(h) & mask.toLong).toInt
  /** Partial-key alt index: involutive (altOf(altOf(i, fp), fp) == i). */
  private def altOf(i: Int, fp: Short): Int =
    i ^ (mix(fp.toLong & 0xffffL) & mask.toLong).toInt

  private def bucketHas(b: Int, fp: Short): Boolean = {
    var s = 0
    while (s < bucketSize) {
      if (table(b * bucketSize + s) == fp) return true
      s += 1
    }
    false
  }

  private def tryPlace(b: Int, fp: Short): Boolean = {
    var s = 0
    while (s < bucketSize) {
      if (table(b * bucketSize + s) == 0) { table(b * bucketSize + s) = fp; return true }
      s += 1
    }
    false
  }

  def put(h: Long): Unit = {
    val fp = fpOf(h)
    val i1 = i1Of(h); val i2 = altOf(i1, fp)
    // duplicate fingerprint copies are ALLOWED (standard Fan et al.
    // semantics, bounded by the bucket pair): two distinct keys
    // colliding on (fp, bucket pair) each own a copy, so delete() of
    // one never false-negatives the other — deduplicating here would
    // leave one shared copy and break the no-false-negative contract
    // for deleting callers.
    if (tryPlace(i1, fp) || tryPlace(i2, fp)) return
    // eviction walk, deterministically seeded by (h, kick)
    var curI = if ((mix(h) & 1L) == 0L) i1 else i2
    var curFp = fp
    var kick = 0
    while (kick < maxKicks) {
      val slot = (mix(h ^ (kick.toLong << 32)) & 0x7fffffffL).toInt % bucketSize
      val idx = curI * bucketSize + slot
      val evicted = table(idx)
      table(idx) = curFp
      curFp = evicted
      curI = altOf(curI, curFp)
      if (tryPlace(curI, curFp)) return
      kick += 1
    }
    // Walk failed: the table now holds what it started with, plus h's
    // fp (the first walk write), minus the FINAL displaced fingerprint
    // curFp — we know the VALUE that lost a copy but not which key
    // owned it (it may even be h's own copy back out, if the walk
    // cycled). ONE fingerprint sentinel for curFp restores the
    // no-false-negative contract for every candidate owner: h itself
    // is covered by its table copy (normal case) or by the sentinel
    // (curFp == fp cycle case). No raw-key stash entry — that would
    // double-mark h (table copy + stash), and delete(h) could then
    // only ever clear one of the two marks, leaving the key
    // permanently seen. Each put adds exactly one mark; delete removes
    // exactly one matching mark. Sentinels trade a few extra false
    // positives (p = 2^-48 per real-hash collision with the tag) for
    // zero false negatives.
    stash += Cuckoo.FpSentinelTag | (curFp.toLong & 0xffffL)
  }

  def mightContain(h: Long): Boolean = {
    val fp = fpOf(h)
    val i1 = i1Of(h)
    bucketHas(i1, fp) || bucketHas(altOf(i1, fp), fp) ||
      stash.contains(h) || stash.contains(Cuckoo.FpSentinelTag | (fp.toLong & 0xffffL))
  }

  /** Delete one copy of h's fingerprint (only call for keys actually
    * inserted, once per matching put — standard cuckoo-filter
    * contract; put() keeps one mark per insert so colliding keys stay
    * independent). Marks are fingerprint-multiset arithmetic: a table
    * copy first, else one matching fingerprint sentinel (a failed walk
    * may have displaced THIS key's copy into the sentinel; removing a
    * copy that textually belonged to a colliding key is fine — counts
    * are preserved, so no survivor false-negatives). Raw stash keys
    * only occur in blobs written before sentinels-only puts; honored
    * for compatibility. Returns true if something was removed. */
  def delete(h: Long): Boolean = {
    val fp = fpOf(h)
    def rm(b: Int): Boolean = {
      var s = 0
      while (s < bucketSize) {
        if (table(b * bucketSize + s) == fp) { table(b * bucketSize + s) = 0; return true }
        s += 1
      }
      false
    }
    val i1 = i1Of(h)
    val si = stash.indexOf(h)
    if (si >= 0) { stash.remove(si); true }
    else if (rm(i1) || rm(altOf(i1, fp))) true
    else {
      val fi = stash.indexOf(Cuckoo.FpSentinelTag | (fp.toLong & 0xffffL))
      if (fi >= 0) { stash.remove(fi); true } else false
    }
  }

  def load: Double = table.count(_ != 0).toDouble / table.length

  def copyOf: Cuckoo = new Cuckoo(table.clone(), bucketSize, maxKicks, stash.clone())

  def serialize: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(2 + 12 + table.length * 2 + 4 + stash.length * 8)
    bb.put(SeenFilter.KindCuckoo).put(SeenFilter.BlobVersion)
    bb.putInt(bucketSize).putInt(maxKicks).putInt(table.length)
    table.foreach(bb.putShort)
    bb.putInt(stash.length)
    stash.foreach(bb.putLong)
    bb.array()
  }
}

object Cuckoo {

  /** Stash sentinel tag for displaced fingerprints: top bits set to a
    * pattern splitmix64-mixed real hashes hit with p = 2^-48 per entry. */
  val FpSentinelTag: Long = 0x7ff8_dead_0000_0000L

  private val DefaultBucketSize = 4

  /** Buckets for `capacity` keys at ~95% max load, rounded up to a
    * power of two. */
  private def numBuckets(capacity: Int, bucketSize: Int): Int = {
    val needed = math.max(1, math.ceil(capacity / 0.95 / bucketSize).toInt)
    var nb = 1
    while (nb < needed) nb <<= 1
    nb
  }

  /** `capacity` keys at ~95% max load; numBuckets rounded to a power of
    * two; 4-slot buckets, 16-bit fingerprints (fpp ~ 2^-13). */
  def apply(capacity: Int, bucketSize: Int = DefaultBucketSize, maxKicks: Int = 500): Cuckoo =
    new Cuckoo(new Array[Short](numBuckets(capacity, bucketSize) * bucketSize), bucketSize,
      maxKicks, scala.collection.mutable.ArrayBuffer.empty[Long])

  /** Bytes of the fingerprint table `Cuckoo(capacity)` allocates (2 per
    * slot) — the size a seen-set budget must hold per partition. */
  def tableBytes(capacity: Int): Long =
    numBuckets(capacity, DefaultBucketSize).toLong * DefaultBucketSize * 2

  def deserialize(b: Array[Byte]): Cuckoo = {
    val bb = java.nio.ByteBuffer.wrap(b)
    SeenFilter.checkHeader(bb, SeenFilter.KindCuckoo, "cuckoo")
    val bs = bb.getInt(); val mk = bb.getInt(); val n = bb.getInt()
    val table = Array.fill(n)(bb.getShort())
    val sl = bb.getInt()
    val stash = scala.collection.mutable.ArrayBuffer.fill(sl)(bb.getLong())
    new Cuckoo(table, bs, mk, stash)
  }
}
