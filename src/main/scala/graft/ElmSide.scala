package graft

import graft.tfidf.{ElmModel, LcElmModel, Tokenize}
import org.apache.spark.sql.SparkSession

/** Side-channel weights for the ELM-family oracles.
  *
  * ELM training ends in a linear solve (pinv / ridge Gram) that no SQL
  * engine can replicate, so the oracle contract is split: the QUERY
  * trains distributed and persists the (tiny) trained weights to a
  * fixed parquet path; the DuckDB oracle reads documents + weights and
  * independently re-derives every score — feature construction,
  * σ(W·x + b), β/combiner reduction, micro rounding. Training itself
  * stays covered by ScalaTest (seeded-goldens + distributed-vs-local
  * parity specs); the oracle proves the distributed SCORING path.
  *
  * The path must be absolute and stable for the LIFETIME OF THIS JVM
  * (the oracle SQL string embeds it, and the driver replays that SQL in
  * DuckDB after the query run that wrote the weights) — but NOT shared
  * across JVMs: a fixed machine-global path would let any other run
  * (Verify on another sf dir, PlanAudit, the benchmark) clobber weights a
  * pending DuckDB compare still depends on. Hence one dir per process.
  */
object ElmSide {

  val dir: String = "/tmp/graft_oracle_side_" + ProcessHandle.current().pid()

  case class WRow(kind: String, i: Int, j: Int, v: Double, term: String)

  case class MRow(kind: String, member: Int, h: Int,
      w0: Double, w1: Double, w2: Double, b: Double, beta: Double)

  /** Persist title-ELM vocab (term → feature index) + W, b, β. */
  def writeElm(s: SparkSession, voc: Array[String], m: ElmModel): Unit = {
    import s.implicits._
    val rows =
      voc.iterator.zipWithIndex.map { case (t, c) => WRow("vocab", -1, c, 0.0, t) } ++
        m.w.iterator.zipWithIndex.flatMap { case (row, h) =>
          row.iterator.zipWithIndex.map { case (v, c) => WRow("w", h, c, v, null) } } ++
        m.b.iterator.zipWithIndex.map { case (v, h) => WRow("b", h, -1, v, null) } ++
        m.beta.iterator.zipWithIndex.map { case (v, h) => WRow("beta", h, -1, v, null) }
    s.createDataset(rows.toSeq).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/elm_title")
  }

  /** Persist LC-ELM member layers (w0..w2, b, β per hidden unit) + the
    * combiner vector. */
  def writeLcElm(s: SparkSession, m: LcElmModel): Unit = {
    import s.implicits._
    val rows =
      m.members.iterator.zipWithIndex.flatMap { case (mm, mi) =>
        mm.w.indices.iterator.map { h =>
          MRow("m", mi, h, mm.w(h)(0), mm.w(h)(1), mm.w(h)(2), mm.b(h), mm.beta(h))
        }
      } ++
        m.v.iterator.zipWithIndex.map { case (v, mi) =>
          MRow("v", mi, -1, v, 0.0, 0.0, 0.0, 0.0)
        }
    s.createDataset(rows.toSeq).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lcelm")
  }

  /** The 33-delimiter tokenizer as DuckDB `translate` args (single
    * quotes doubled for SQL literals). */
  private def delimsSqlLit: (String, String) = {
    val from = Tokenize.delimiters.mkString.replace("'", "''")
    val to = " " * Tokenize.delimiters.length
    (from, to)
  }

  /** DuckDB re-derivation of elm_title_score: tokenize (reference
    * 33-delimiter rule, first 8 tokens) → binary TF-IDF
    * (smooth_idf=False, L2 rows) → micro-quantized activity at 0.5 →
    * hidden layer → β dot. */
  def elmOracleSql: String = {
    val (dfrom, dto) = delimsSqlLit
    s"""WITH sd AS (SELECT * FROM read_parquet('$dir/elm_title/*.parquet')),
       |voc AS (SELECT term, j AS c FROM sd WHERE kind = 'vocab'),
       |wm AS (SELECT i AS h, j AS c, v FROM sd WHERE kind = 'w'),
       |bi AS (SELECT i AS h, v AS b FROM sd WHERE kind = 'b'),
       |be AS (SELECT i AS h, v AS beta FROM sd WHERE kind = 'beta'),
       |t AS (SELECT doc_id,
       |        list_filter(string_split(lower(translate(
       |            trim(text, ${graft.py.Py.uniWhitespaceSql}),
       |            '$dfrom', '$dto')), ' '),
       |                    x -> x <> '')[1:8] AS toks
       |      FROM documents),
       |dt AS (SELECT DISTINCT doc_id, term
       |       FROM (SELECT doc_id, unnest(toks) AS term FROM t)),
       |n AS (SELECT count(*) AS n FROM documents),
       |df AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
       |idf AS (SELECT term, ln((SELECT n FROM n) * 1.0 / df) + 1.0 AS idf FROM df),
       |v AS (SELECT dt.doc_id, dt.term, i.idf FROM dt JOIN idf i USING (term)),
       |nrm AS (SELECT doc_id, sqrt(sum(idf * idf)) AS nrm FROM v GROUP BY 1),
       |act AS (SELECT v.doc_id, voc.c
       |        FROM v JOIN nrm USING (doc_id) JOIN voc ON voc.term = v.term
       |        WHERE round(v.idf / nrm.nrm * 1000000, 0) >= 500000),
       |hz AS (SELECT d.doc_id, bi.h,
       |         CASE WHEN s.lw IS NULL THEN bi.b
       |              ELSE list_reduce(list_prepend(bi.b, s.lw), (a, x) -> a + x) END AS z
       |       FROM (SELECT doc_id FROM documents) d
       |       CROSS JOIN bi
       |       LEFT JOIN (SELECT a.doc_id, w.h,
       |                    list(w.v ORDER BY w.c) AS lw
       |                  FROM act a JOIN wm w ON w.c = a.c GROUP BY 1, 2) s
       |         ON s.doc_id = d.doc_id AND s.h = bi.h),
       |dec AS (SELECT hz.doc_id,
       |          list_sum(list(be.beta * (1.0 / (1.0 + exp(-hz.z))) ORDER BY be.h)) AS dv
       |        FROM hz JOIN be ON be.h = hz.h GROUP BY 1)
       |SELECT doc_id,
       |  cast(CASE WHEN round(dv * 1000000, 0) >= 0 THEN 1 ELSE 0 END as bigint) AS elm_pred,
       |  cast(round(dv * 1000000, 0) as bigint) AS elm_decision_micro
       |FROM dec""".stripMargin
  }

  /** DuckDB re-derivation of lcelm_score: plain-SQL scalar features →
    * per-member σ(W·x + b)·β decisions → ±1 votes → combiner dot. The
    * per-member z is parenthesized to the exact left-fold add order the
    * Scala scorer uses. */
  def lcelmOracleSql: String =
    s"""WITH sd AS (SELECT * FROM read_parquet('$dir/lcelm/*.parquet')),
       |mm AS (SELECT member, h, w0, w1, w2, b, beta FROM sd WHERE kind = 'm'),
       |cv AS (SELECT member, w0 AS vv FROM sd WHERE kind = 'v'),
       |x AS (SELECT doc_id,
       |        length(text) / 1000.0 AS x0,
       |        len(list_filter(string_split(text, ' '), w -> w <> '')) / 100.0 AS x1,
       |        cast(length(text) - length(replace(text, 'e', '')) as double)
       |          / greatest(length(text), 1) AS x2
       |      FROM documents),
       |md AS (SELECT x.doc_id, mm.member,
       |         list_sum(list(mm.beta * (1.0 / (1.0 + exp(-(((mm.b + mm.w0 * x.x0) + mm.w1 * x.x1) + mm.w2 * x.x2)))) ORDER BY mm.h)) AS dm
       |       FROM x, mm GROUP BY 1, 2),
       |dec AS (SELECT md.doc_id,
       |         list_sum(list((CASE WHEN md.dm >= 0 THEN 1.0 ELSE -1.0 END) * cv.vv ORDER BY md.member)) AS dv
       |        FROM md JOIN cv USING (member) GROUP BY 1)
       |SELECT doc_id,
       |  cast(CASE WHEN round(dv * 1000000, 0) > 0 THEN 1 ELSE 0 END as bigint) AS lcelm_pred,
       |  cast(round(dv * 1000000, 0) as bigint) AS lcelm_decision_micro
       |FROM dec""".stripMargin
}
