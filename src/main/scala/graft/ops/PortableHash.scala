package graft.ops

/** Hashing whose results are reproducible in PLAIN SQL in both Spark
  * and DuckDB (`md5` hex + per-hex-digit arithmetic) — the foundation
  * that lets the sketch-family operators (MinHash/SimHash/LSH/winnowing)
  * and fixture rules be verified by the driver's DuckDB oracle.
  *
  * DuckDB raises on BIGINT overflow, so splitmix-style wrapping
  * multiplies cannot be replicated there without HUGEINT arithmetic;
  * md5 is the one 64-bit-quality
  * hash both engines share. Values are consumed either as the full hex
  * string (lexicographic min — a valid uniform order for MinHash) or as
  * small integers assembled from a few hex digits (bit/bucket
  * derivations), both expressible as `substr`/`strpos` arithmetic.
  *
  * md5 is the sketch operators' only hash: ~5-10× slower than
  * splitmix64, but cheap to replicate in SQL, so every sketch query
  * has a DuckDB oracle. [[mix64]] serves the Bloom and Cuckoo seen-set
  * filters and NetSynth fixture synthesis (whose one SQL replica,
  * `NetSynth.urlSeedCtesSql`, needs HUGEINT mod-2^64 arithmetic).
  */
object PortableHash {

  /** splitmix64 finalizer — THE fast 64-bit mix behind the Bloom and
    * Cuckoo seen-set filters and NetSynth fixture synthesis. One copy:
    * these constants define cross-run blob compatibility. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val digester = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  def md5HexBytes(bytes: Array[Byte]): String = {
    val d = digester.get()
    d.reset()
    val h = d.digest(bytes)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((h(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(h(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def md5Hex(s: String): String =
    md5HexBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Value of hex digit `i` (0-based) of `hex` — SQL replica:
    * `strpos('0123456789abcdef', substr(hex, i + 1, 1)) - 1`. */
  def digit(hex: String, i: Int): Int = Character.digit(hex.charAt(i), 16)

  /** 12-bit integer from hex digits [i, i+2] — SQL replica:
    * `d(i)*256 + d(i+1)*16 + d(i+2)` with `d` as above. */
  def int12(hex: String, i: Int): Int =
    digit(hex, i) * 256 + digit(hex, i + 1) * 16 + digit(hex, i + 2)

  /** SQL fragment (shared Spark/DuckDB dialect) for the value of hex
    * digit `i` (0-based) of the 1-indexed SQL string `hexCol`. */
  def digitSql(hexCol: String, i: Int): String =
    s"(instr('0123456789abcdef', substr($hexCol, ${i + 1}, 1)) - 1)"

  /** SQL fragment for [[int12]]. */
  def int12Sql(hexCol: String, i: Int): String =
    s"(${digitSql(hexCol, i)} * 256 + ${digitSql(hexCol, i + 1)} * 16 + ${digitSql(hexCol, i + 2)})"
}
