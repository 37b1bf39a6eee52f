package graft

import graft.ops.{Ann, Dedup, Multimodal, PortableHash, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the training-data pipeline operators. The sketch
  * operators (MinHash/SimHash/LSH/winnowing) also have DuckDB oracles in
  * SparkEntry; the golden test below pins their hash rules to those
  * oracles' SQL on fixed inputs, so drift shows up in tier-1. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"

  test("minhash signature estimates Jaccard within tolerance") {
    val a = Dedup.shingles(base * 5, 5)
    val b = Dedup.shingles((base * 5) + " extra tail", 5)
    val sa = Dedup.minhashSignature(a, 256)
    val sb = Dedup.minhashSignature(b, 256)
    val est = sa.indices.count(i => sa(i) == sb(i)).toDouble / sa.length
    val inter = a.toSet.intersect(b.toSet).size.toDouble
    val union = a.toSet.union(b.toSet).size.toDouble
    val truth = inter / union
    assert(math.abs(est - truth) < 0.12, s"est=$est truth=$truth")
  }

  test("minhash LSH finds near-duplicate pairs, not unrelated ones") {
    val d = docs(
      1L -> (base * 4),
      2L -> (base * 4 + " minor tail change"),
      3L -> "completely different content about spark shuffles and parquet files and bloom filters",
      4L -> (base * 4))
    val pairs = Dedup.minhashLshPairs(d, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 1L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs at Hamming 0; near docs close; far docs far") {
    val s1 = Dedup.simhash64(base)
    val s2 = Dedup.simhash64(base)
    assert(s1 == s2)
    val near = Dedup.simhash64(base.replace("tonight", "today"))
    val far = Dedup.simhash64("spark catalyst tungsten codegen adaptive execution engine")
    assert(java.lang.Long.bitCount(s1 ^ near) < java.lang.Long.bitCount(s1 ^ far))
  }

  test("simhash pair blocking catches Hamming<=3 pairs") {
    val d = docs(1L -> (base * 3), 2L -> (base * 3 + " x"), 3L -> "unrelated words entirely about databases")
    val pairs = Dedup.simhashPairs(d, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("sketch hash rules equal their DuckDB oracles' SQL on fixed inputs") {
    // Each literal is the output of DuckDB 1.0.0 running the SQL of the
    // named SparkEntry oracle over a one-row table (doc_id 1, `base`;
    // vec_id 1, `vec` as FLOAT[]): not computed by this code.
    // dedup_simhash: the four 16-bit band keys k0..k3 (`bands` CTE)
    val sim = Dedup.simhash64(base)
    assert((0 until 4).map(b => (sim >>> (16 * b)) & 0xffff) ==
      Seq(24048L, 54211L, 39165L, 65382L))
    // dedup_minhash_lsh: md5(string_agg(sig, ',' ORDER BY j)) over the
    // 16 slots of its `m` CTE
    assert(PortableHash.md5Hex(Dedup.minhashSignature(Dedup.shingles(base, 5), 16)
      .mkString(",")) == "6bdcdbca2055b3558fb13308d5c387ee")
    // fingerprints: the whole oracle
    val fp = TextAnalysis.fingerprints(docs(1L -> base)).head()
    assert(fp.getLong(1) == 10L && fp.getString(2) == "f8e5f586c33924eaeca530cf35711683")
    // ann_lsh_topk: `sigs` for table t = 0 (6 bits, planes tagged "ann:0")
    val vec = Array(
      -0.352f, -0.698f, 0.302f, -0.855f, 0.072f, -0.269f, -0.884f, 0.015f,
      -0.925f, -0.133f, -0.86f, -0.819f, -0.151f, 0.654f, -0.752f, -0.554f,
      0.255f, 0.895f, 0.154f, -0.207f, 0.953f, -0.907f, 0.717f, -0.421f,
      -0.711f, -0.764f, -0.383f, 0.632f, -0.639f, 0.163f, 0.278f, -0.255f,
      0.095f, -0.874f, -0.881f, -0.588f, 0.361f, -0.145f, -0.372f, 0.171f,
      -0.094f, -0.4f, 0.589f, 0.398f, -0.512f, 0.149f, 0.05f, 0.75f,
      0.459f, -0.424f, 0.96f, -0.764f, -0.164f, 0.514f, -0.696f, -0.022f,
      -0.922f, 0.336f, 0.529f, 0.146f, 0.751f, -0.373f, 0.391f, 0.189f)
    assert(Ann.signature(vec, Ann.rademacherPlanes(6, 64, "ann:0")) == 26)
  }

  test("zero-norm vectors never rank: NULL cosine, not rank-1 NaN") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)), // zero norm: raw 0/0 NaN would rank FIRST
      (4L, Array(0.5f, 0.5f)))
    val e = rows.toDF("vec_id", "embedding")
    val q = e.where($"vec_id" === 1L)
    val top = Ann.bruteForceTopK(e, q, k = 2)
      .select("cand_id", "rank").as[(Long, Int)].collect().sortBy(_._2)
    assert(top.map(_._1).toSeq == Seq(2L, 4L), s"got ${top.toSeq}")
    // and as a QUERY a zero vector returns no NaN rows either
    val qz = e.where($"vec_id" === 3L)
    val tz = Ann.bruteForceTopK(e, qz, k = 2).collect()
    assert(tz.isEmpty, s"got ${tz.toSeq}")
  }

  test("LSH ANN achieves reasonable recall vs brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Ann.bruteForceTopK(e, q, k = 5))
    val lsh = pairs(Ann.lshTopK(e, q, k = 5, probes = 2))
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.25, s"recall=$recall")
    // and every LSH hit must carry the same cosine the brute pass computed
    assert(lsh.subsetOf(pairs(Ann.bruteForceTopK(e, q, k = e.count().toInt))))
  }

  test("winnowing fingerprints are stable under distant edits") {
    val a = TextAnalysis.winnow(base * 10).toSet
    val b = TextAnalysis.winnow(base * 10 + " changed ending here").toSet
    val overlap = (a intersect b).size.toDouble / a.size
    assert(overlap > 0.8, s"overlap=$overlap")
  }

  test("multimodal decode plumbing: deterministic, schema-typed, prunable") {
    val d = docs(0L -> "image payload bytes", 1L -> "audio payload", 2L -> "video payload data")
      .withColumn("doc_id", col("doc_id").cast("long"))
    val out1 = Multimodal.decodeAll(Multimodal.synthAssets(d)).collect()
    val out2 = Multimodal.decodeAll(Multimodal.synthAssets(d)).collect()
    assert(out1.map(_.toString).sorted.sameElements(out2.map(_.toString).sorted))
    val video = out1.find(_.getString(1) == "video").get
    assert(video.getInt(5) >= 1) // n_frames
  }

  test("langId/quality/tokenCounts run and type as bigint metrics") {
    val d = docs(1L -> "the cat and the dog of the house", 2L -> "der hund und der mann und die frau")
    val l = TextAnalysis.langId(d).collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(l(1L) == "en" && l(2L) == "de")
    val q = TextAnalysis.quality(d)
    assert(q.columns.toSeq == Seq("doc_id", "n_chars_q", "n_words", "mean_word_len_micro", "stop_ratio_micro", "alpha_ratio_micro"))
    val t = TextAnalysis.tokenCounts(d).where(col("doc_id") === 1).head
    assert(t.getLong(1) == 8 && t.getLong(2) == 8)
  }
}
