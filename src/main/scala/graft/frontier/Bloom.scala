package graft.frontier

/** Plain blocked Bloom filter over 64-bit url hashes. The seen-set is
  * PARTITIONED (`pmod(url_hash, P)` → one Bloom blob per partition), so
  * each blob stays small enough to broadcast while the union scales to
  * 10^10 URLs: P grows with the frontier, blob size stays fixed.
  *
  * k index bits are derived from the two halves of a splitmix64 remix of
  * the input (double hashing, Kirsch–Mitzenmacher).
  */
final class Bloom(val bits: Array[Long], val numHashes: Int) extends SeenFilter {

  // the ONE splitmix64 copy — blob compatibility hangs on these constants
  private def mix(z0: Long): Long = graft.ops.PortableHash.mix64(z0)

  private def nBits: Int = bits.length * 64

  def put(h: Long): Unit = {
    val m = mix(h)
    val h1 = (m & 0x7fffffffffffffffL); val h2 = (m >>> 32) | 1L
    var i = 0
    while (i < numHashes) {
      val idx = (((h1 + i * h2) & 0x7fffffffffffffffL) % nBits).toInt
      bits(idx >>> 6) |= (1L << (idx & 63))
      i += 1
    }
  }

  def mightContain(h: Long): Boolean = {
    val m = mix(h)
    val h1 = (m & 0x7fffffffffffffffL); val h2 = (m >>> 32) | 1L
    var i = 0
    while (i < numHashes) {
      val idx = (((h1 + i * h2) & 0x7fffffffffffffffL) % nBits).toInt
      if ((bits(idx >>> 6) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  def serialize: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(2 + 8 + bits.length * 8)
    bb.put(SeenFilter.KindBloom).put(SeenFilter.BlobVersion)
    bb.putInt(numHashes).putInt(bits.length)
    bits.foreach(bb.putLong)
    bb.array()
  }

  def copyOf: Bloom = new Bloom(bits.clone(), numHashes)
}

object Bloom {
  def apply(numBits: Int, numHashes: Int = 5): Bloom =
    new Bloom(new Array[Long]((numBits + 63) / 64), numHashes)

  def deserialize(b: Array[Byte]): Bloom = {
    val bb = java.nio.ByteBuffer.wrap(b)
    SeenFilter.checkHeader(bb, SeenFilter.KindBloom, "bloom")
    val k = bb.getInt(); val n = bb.getInt()
    val bits = Array.fill(n)(bb.getLong())
    new Bloom(bits, k)
  }
}
