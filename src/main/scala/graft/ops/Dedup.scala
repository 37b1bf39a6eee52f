package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * The reference deduplicates implicitly (each seed URL fetched once,
  * `spider.py:515-524`); a training-data pipeline over Common-Crawl-style
  * pages additionally needs content-level dedup. All operators here are
  * shuffle-aware by construction:
  *
  *  - exact: one hash-partitioned groupBy on a 128-bit digest — the only
  *    shuffle, keyed uniformly (md5), so no skew;
  *  - MinHash+LSH: signature computation is row-local (narrow map);
  *    the only shuffles are the band-bucket groupBy (band keys are
  *    near-uniform) and the candidate-pair verification join on doc id;
  *  - SimHash: row-local 64-bit signature; near-dup candidates via
  *    4×16-bit band blocking (Hamming ≤ 3 ⇒ at least one of 4 bands is
  *    identical — pigeonhole), verified by popcount on the pair;
  *  - n-gram Jaccard: the exact pairwise verifier is plain SQL, the
  *    `dedup_ngram_jaccard` query in [[graft.SparkEntry]].
  *
  * The sketch operators hash with md5 ([[PortableHash]]), so DuckDB
  * recomputes their signatures and each has an exact SQL oracle.
  *
  * At 100 TB the band-bucket `collect_list` is bounded by
  * `maxBucket`: oversized buckets are dropped SILENTLY BY POLICY — they
  * are degenerate near-identical clusters a production run routes to a
  * cluster-representative pass instead of pairwise expansion. The
  * consequence is a recall contract: the sketch operators' exactness
  * claims (simhash Hamming ≤ 3 pigeonhole; the minhash/SQL equality)
  * hold only while no band bucket exceeds `maxBucket` —
  * raise it (or pre-collapse exact duplicates) when a corpus can put
  * more than `maxBucket` near-identical documents in one bucket.
  *
  * Ids are numeric (cast to long) in every operator, so the
  * smallest-id keeper rule is numeric min everywhere.
  */
object Dedup {

  /** Exact dedup: groups by md5(text); representative = min(id).
    * Output: one row per distinct content with its duplicate count. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol).cast("long")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  // ---------------------------------------------------------------- MinHash

  /** Within-bucket ordered pair expansion over a `members` array of
    * `struct(id, …)`: members[i] × members[j > i] → one `p` =
    * struct(a_id, b_id, <payload>) row per pair, with least/greatest
    * ids and `payload` fields projected from the `x`/`y` sides. ONE
    * copy of the slice arithmetic both bucketed operators share
    * (minhash, simhash).
    *
    * TWO chained generators, not one flattened array: a single
    * flatten(transform(...)) materializes all C(n,2) pair structs —
    * each carrying both payloads — inside ONE row value before the
    * explode can stream them (~4 GB at the documented maxBucket=2000
    * with 1 KB payloads). posexplode-then-slice keeps per-row
    * memory at O(n·payload). */
  private def pairExpand(buckets: DataFrame, payload: String): DataFrame =
    buckets
      .select(col("members"), posexplode(col("members")).as(Seq("i", "x")))
      .select(explode(expr(
        s"""transform(slice(members, i + 2, size(members)), y ->
           |  struct(least(x.id, y.id) as a_id, greatest(x.id, y.id) as b_id,
           |         $payload))""".stripMargin)).as("p"))

  /** Distinct char k-shingles as STRINGS, mirroring the SQL replica
    * exactly: `substr(text, i, k)` for i in 1..max(len-k+1, 1) — a
    * text shorter than k yields its whole self (one short gram). */
  def shingles(text: String, k: Int): Array[String] = {
    val n = math.max(text.length - k + 1, 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < n) {
      seen.add(text.substring(i, math.min(i + k, text.length)))
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** MinHash signature: slot j = lexicographic min over grams of
    * md5Hex(s"$j:$gram") ([[PortableHash]]). Row-local, no shuffle.
    * Hex-string order equals DuckDB varchar order (ASCII), so
    * `min(md5(j || ':' || gram))` in SQL reproduces every slot
    * byte-for-byte. */
  def minhashSignature(grams: Array[String], numHashes: Int): Array[String] = {
    val sig = new Array[String](numHashes)
    var g = 0
    while (g < grams.length) {
      var j = 0
      while (j < numHashes) {
        val h = PortableHash.md5Hex(j + ":" + grams(g))
        if (sig(j) == null || h.compareTo(sig(j)) < 0) sig(j) = h
        j += 1
      }
      g += 1
    }
    sig
  }

  /** MinHash+LSH near-dup candidate pairs whose signatures agree on at
    * least `threshold` of their slots.
    *
    * Pipeline: shingle→minhash (narrow map) → explode `bands` band keys
    * → groupBy band bucket (shuffle 1, near-uniform keys) → pairwise
    * within bucket (bounded by `maxBucket`) → distinct pairs (shuffle 2)
    * → slot agreement of the signatures carried with the pair.
    * Output: (a_id, b_id, est_jaccard_micro) with a_id < b_id.
    *
    * DETERMINISTIC equality with its SQL replica, not just probabilistic
    * recall: both engines compute the same md5 signatures, the same
    * candidate rule (a fully-equal band), and the same slot-agreement
    * estimate, so the driver oracle is an exact all-pairs formulation
    * of this operator. Few hashes (16 = 4 bands × 4 rows) keep the SQL
    * side tractable. */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleK: Int = 5,
      numHashes: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.3,
      maxBucket: Int = 2000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands

    val sigs = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .map { case (id, t) =>
        (id, minhashSignature(shingles(t, shingleK), numHashes))
      }
      .toDF("id", "sig")

    val banded = sigs.select(col("id"), col("sig"),
      explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("id"), col("sig"), col("band"),
        concat_ws("|", slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand))).as("bucket"))

    val pairs = pairExpand(
      banded.groupBy("band", "bucket")
        .agg(collect_list(struct(col("id"), col("sig"))).as("members"))
        .where(size(col("members")).between(2, maxBucket)),
      "x.sig as sa, y.sig as sb")
      .select(col("p.a_id"), col("p.b_id"), col("p.sa"), col("p.sb"))
      .dropDuplicates("a_id", "b_id")

    pairs
      .withColumn("eq", expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), b -> b))"))
      .where(col("eq") >= lit(math.ceil(threshold * numHashes).toInt))
      .select(col("a_id"), col("b_id"),
        // integer division LAST: eq * (1000000 / numHashes) truncates
        // the per-slot weight whenever numHashes does not divide 1e6
        expr(s"eq * 1000000 div $numHashes").cast("long").as("est_jaccard_micro"))
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over whitespace tokens (unit weights; split on ' ',
    * empties skipped; majority bit, ties → 0). Row-local. The per-token
    * hash is md5 ([[PortableHash]]): bit i (0..63) of a token's
    * contribution is bit (i mod 4) of hex digit (i div 4) of
    * md5(token) — exactly replicable in DuckDB SQL (`strpos`/`substr`
    * digit arithmetic + `>>`), which is what lets the driver oracle the
    * simhash operator end-to-end. */
  def simhash64(text: String): Long = {
    val counts = new Array[Int](64)
    var start = 0; val n = text.length
    while (start < n) {
      while (start < n && text.charAt(start) == ' ') start += 1
      var end = start
      while (end < n && text.charAt(end) != ' ') end += 1
      if (end > start) {
        val hex = PortableHash.md5Hex(text.substring(start, end))
        var i = 0
        while (i < 64) {
          val bit = (Character.digit(hex.charAt(i >> 2), 16) >> (i & 3)) & 1
          if (bit == 1) counts(i) += 1 else counts(i) -= 1
          i += 1
        }
      }
      start = end + 1
    }
    var sig = 0L; var bit = 0
    while (bit < 64) { if (counts(bit) > 0) sig |= (1L << bit); bit += 1 }
    sig
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`.
    * Blocking: 4×16-bit bands; Hamming ≤ 3 guarantees a shared band
    * (pigeonhole), so results are EXACT for `maxHamming` ≤ 3 — PROVIDED
    * no band bucket exceeds `maxBucket` (see the module doc's recall
    * contract; a corpus with more than `maxBucket` near-identical
    * documents needs a larger cap or an exact-dedup pre-pass). Beyond
    * Hamming 3 recall is partial (candidates must still collide on a
    * band). */
  def simhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucket: Int = 2000): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)]
      .map { case (id, t) => (id, simhash64(t)) }
      .toDF("id", "sig")

    val banded = sigs.select(col("id"), col("sig"),
      explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("key", expr("(sig >> (band * 16)) & 65535"))

    pairExpand(
      banded.groupBy("band", "key")
        .agg(collect_list(struct(col("id"), col("sig"))).as("members"))
        .where(size(col("members")).between(2, maxBucket)),
      "bit_count(x.sig ^ y.sig) as hamming")
      .select(col("p.a_id"), col("p.b_id"), col("p.hamming"))
      .dropDuplicates("a_id", "b_id")
      .where(col("hamming") <= maxHamming)
  }
}
