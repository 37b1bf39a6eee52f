package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: a physical-plan audit of the query surface.
  *
  * For each audited query it runs `.explain("formatted")` and keeps the
  * operator skeleton plus, for every parquet scan, the `Location`,
  * `PushedFilters` and `ReadSchema` lines — the evidence that column
  * pruning and filter pushdown reach the scans, small sides broadcast,
  * and row-local work fuses into WholeStageCodegen (`[codegen id : n]`
  * markers are kept on the operator lines).
  *
  * Usage: `sbt -batch "runMain graft.PlanAudit /root/testdata/sf0.001 PLANS.md"`
  */
object PlanAudit {

  /** Queries whose plans the audit records: every table-scan family
    * (one representative per shape) + the scale-critical operators.
    * Engine-snapshot readers (crawl_engine_*, crawl_discovery) and
    * file-fixture sources (s9/s10/s11) are excluded — their inputs are
    * temp dirs created by the query itself, not the sf tables. */
  val audited: Seq[String] = Seq(
    "s1_seed_scan", "s2_s3_fetchable", "s7_error_channel",
    "w_politeness_schedule", "w_crawl_order", "j_dedup_first_seen",
    "robots_filter",
    "url_features", "url_features_sets",
    "tok_terms", "term_df", "tfidf_micro",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_ngram_jaccard",
    "ann_brute_topk", "ann_lsh_topk",
    "lang_id", "quality", "token_counts", "fingerprints",
    "multimodal_decode",
    "elm_title_score", "lcelm_score", "byte_identity", "s8_ftp_fetch",
    "extract_features_full", "net_features", "html_features")

  /** Structured audit from the formatted explain's DETAIL sections: each
    * operator owns a `"(n) Name [codegen id : k]"` block; we keep those
    * header lines in numeric order and, under scans, the Location /
    * PushedFilters / PartitionFilters / ReadSchema evidence lines. */
  def render(formatted: String): String = {
    val opHeader = """^\((\d+)\)\s+\S.*""".r
    val keep = Seq("Location:", "PushedFilters:", "PartitionFilters:", "ReadSchema:")
    val sections = scala.collection.mutable.TreeMap.empty[Int, (String, Vector[String])]
    var cur = -1
    formatted.linesIterator.foreach { raw =>
      val t = raw.trim
      t match {
        case opHeader(n) =>
          cur = n.toInt
          // first definition wins (subqueries/AQE can repeat numbering)
          if (!sections.contains(cur)) sections(cur) = (t, Vector.empty)
          else cur = -1
        case _ if cur >= 0 && keep.exists(t.startsWith) =>
          val (h, d) = sections(cur)
          sections(cur) = (h, d :+ t)
        case _ if t.isEmpty => cur = -1
        case _ =>
      }
    }
    val sb = new StringBuilder
    sections.values.foreach { case (h, d) =>
      sb ++= h + "\n"
      d.foreach(x => sb ++= "  " + x + "\n")
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val unknown = audited.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"audited queries not registered: ${unknown.mkString(", ")}")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb ++= s"""# PLANS — physical-plan audit (generated by `graft.PlanAudit` at $sfDir)
              |
              |Evidence that the operator surface compiles to the plans a 100 TB
              |deployment needs: column pruning reaches every parquet scan
              |(`ReadSchema` lists only consumed columns), filters push down
              |(`PushedFilters`), small sides broadcast, and row-local work fuses
              |into WholeStageCodegen (`[codegen id : n]`). Regenerate with
              |`sbt -batch "runMain graft.PlanAudit /root/testdata/sf0.001 PLANS.md"`.
              |
              |Engine-snapshot readers (`crawl_engine_*`, `crawl_discovery`) and
              |temp-file sources (`s9`/`s10`/`s11`) are not audited here — their
              |inputs are produced by the query itself; the engine's own plan
              |properties (broadcast wave slices, O(delta) commits, the per-host
              |rank) are asserted in CrawlSpec and documented in BASELINE.md.
              |""".stripMargin

    audited.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb ++= s"\n## $name\n\n```\n" + render(formatted) + "```\n"
      } catch {
        case e: Throwable =>
          sb ++= s"\n## $name\n\n(plan unavailable: ${e.getMessage})\n"
      }
    }
    Files.writeString(Paths.get(out), sb.result())
    println(s"[plan-audit] wrote $out (${audited.size} queries)")
    spark.stop()
  }
}
