package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`, the driver's `embeddings.parquet` shape).
  *
  * Two tiers, per the scale plan:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The query side is small (a broadcast), so the "cross join" is a
  *    broadcast nested loop over one pass of the corpus: at 100 TB this
  *    is one full scan, no shuffle except the final per-query top-k
  *    (tiny after the per-partition pre-top-k that Spark's window +
  *    filter plan performs with AQE).
  *  - [[lshTopK]]: random-hyperplane (sign) LSH — corpus and queries are
  *    bucketed by an `nBits`-bit signature; only same-bucket candidates
  *    are scored. Hyperplanes are ±1 (Rademacher) components derived
  *    from md5 ([[PortableHash]]), so results are reproducible with no
  *    stored model and DuckDB recomputes every signature.
  *    Multi-probe: queries are also matched at Hamming distance ≤ 1 to
  *    recover near-boundary neighbours (`probes` > 1).
  *
  * Dot products use SQL higher-order functions (`zip_with` +
  * `aggregate`) — codegen'd, no UDF, stays inside WholeStageCodegen.
  */
object Ann {

  /** Shared cosine expression over two double-array columns (left-to-right
    * fold, matching DuckDB's `list_cosine_similarity` evaluation order so
    * oracle comparisons are bit-stable). A zero-norm side yields NULL via
    * nullif (single evaluation, bit-identical for real vectors) — NULL
    * ranks LAST under `desc` and fails every `>= threshold` filter,
    * where the raw 0/0 NaN would rank FIRST in Spark's double ordering
    * and silently displace a real neighbour per query. (DuckDB's
    * list_cosine_similarity has no such guard; fixtures carry no
    * zero-norm embeddings, and deployments should pre-filter them.) */
  def cosineExpr(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)
       | / nullif(sqrt(aggregate($a, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double)))
       |    * sqrt(aggregate($b, cast(0.0 as double), (acc, v) -> acc + cast(v as double) * cast(v as double))), 0.0d)""".stripMargin

  /** Exact cosine top-k for each query vector. Queries are selected by
    * the caller (small set → broadcast). Tie-break: cosine desc, then
    * corpus id asc — fully deterministic. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    q.join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cosine", expr(cosineExpr("qv", "cv")))
      // zero-norm side -> NULL cosine (see cosineExpr): undefined
      // similarity is not a neighbour; unfiltered, row_number would
      // still hand NULL-cosine rows ranks
      .where(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("cand_id").asc)))
      .where(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"),
        (round(col("cosine") * 1e6, 0)).cast("long").as("cosine_micro"))
  }

  /** Rademacher sign-LSH planes ([[PortableHash]], md5): component
    * (b, d) is +1 when the first hex digit of md5("tag:b:d") is odd,
    * else -1 — reproducible in DuckDB as `strpos`/`substr` arithmetic.
    * ±1 planes are the standard derandomized sign-LSH family (random
    * projections with Rademacher entries preserve cosine sign
    * statistics like gaussian ones). */
  def rademacherPlanes(nBits: Int, dim: Int, tag: String): Array[Array[Int]] =
    Array.tabulate(nBits) { b =>
      Array.tabulate(dim) { d =>
        if ((PortableHash.digit(PortableHash.md5Hex(s"$tag:$b:$d"), 0) & 1) == 1) 1 else -1
      }
    }

  /** Sign-LSH signature of a vector under [[rademacherPlanes]]: bit b
    * set when Σ_d plane(b,d) · floor(v_d · 1e6) ≥ 0, over EXACT int64
    * micro components (floor of the exact float→double product), so the
    * dot product is order-independent and bit-identical to a SQL
    * replica — no cross-engine float-summation knife edges at the sign
    * threshold. */
  def signature(v: Array[Float], planes: Array[Array[Int]]): Int = {
    var sig = 0; var b = 0
    while (b < planes.length) {
      val p = planes(b); var dot = 0L; var i = 0
      val n = math.min(v.length, p.length)
      while (i < n) { dot += p(i) * math.floor(v(i).toDouble * 1e6).toLong; i += 1 }
      if (dot >= 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** LSH-bucketed top-k: same output shape as [[bruteForceTopK]] but only
    * candidates sharing a (multi-probed) signature bucket in at least one
    * of `tables` independent hash tables are scored — the standard
    * recall/cost dial (L tables × b bits). Recall is property-tested
    * against brute force in `OpsSpec`.
    *
    * `probes` is a Hamming RADIUS level, not a probe count: ≤1 probes
    * only the exact bucket; ≥2 additionally probes ALL nBits buckets at
    * Hamming distance 1 (symmetric radius-1 multi-probe — without
    * per-plane margins no Hamming-1 neighbor is likelier than another,
    * so there is no principled "first m probes" order to offer).
    *
    * Scale shape: signatures are a row-local map; the candidate join is
    * keyed by (table, bucket) with near-uniform buckets, then scored
    * per pair — no full cross product ever materializes. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nBits: Int = 6,
      dim: Int = 64,
      probes: Int = 1,
      tables: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val planes = spark.sparkContext.broadcast(
      Array.tabulate(tables)(t => rademacherPlanes(nBits, dim, s"ann:$t")))

    def sigOf(df: DataFrame, id: String, vec: String, outId: String, outVec: String): DataFrame =
      df.select(col(id).cast("long"), col(vec)).as[(Long, Array[Float])]
        .flatMap { case (i, v) =>
          (0 until tables).map(t => (i, v, t, signature(v, planes.value(t))))
        }
        .toDF(outId, outVec, "tbl", "sig")

    val c = sigOf(corpus, idCol, vecCol, "cand_id", "cv")
    val qSig = sigOf(queries, idCol, vecCol, "query_id", "qv")
    // multi-probe: each query also probes buckets at Hamming distance 1
    val probed =
      if (probes <= 1) qSig
      else qSig.withColumn("sig",
        explode(expr(s"concat(array(sig), transform(sequence(0, ${nBits - 1}), b -> cast(sig ^ shiftleft(1, b) as int)))")))

    broadcast(probed).join(c, Seq("tbl", "sig"))
      .where(col("query_id") =!= col("cand_id"))
      .select("query_id", "qv", "cand_id", "cv").dropDuplicates("query_id", "cand_id")
      .withColumn("cosine", expr(cosineExpr("qv", "cv")))
      // zero-norm side -> NULL cosine (see cosineExpr): undefined
      // similarity is not a neighbour; unfiltered, row_number would
      // still hand NULL-cosine rows ranks
      .where(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("cand_id").asc)))
      .where(col("rank") <= k)
      .select(col("query_id"), col("cand_id"), col("rank"),
        (round(col("cosine") * 1e6, 0)).cast("long").as("cosine_micro"))
  }
}
