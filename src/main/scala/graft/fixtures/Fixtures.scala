package graft.fixtures

import graft.crawl.Liveness
import graft.jobs.Synth
import graft.model.PageRow
import graft.parse.SampleRender
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Builder of the primary `pages` input table (BASELINE.json
  * `input_hint`: url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
  * lang STRING) — synthesized deterministically from the seed-URL space
  * ([[graft.jobs.Synth]]) with NO external data and NO wall clock.
  *
  * `text` is the GOLDEN column: the reference-semantics rendered sample
  * document for the row ([[SampleRender.render]] over [[NetSynth]]
  * inputs). The crawl engine re-renders it independently and must match
  * byte-for-byte. Dead pages (liveness-failing, `spider.py:249-267`)
  * carry a null `text` — the reference writes no sample file for them.
  * URLs where [[NetSynth.isFetchMiss]] holds are ABSENT from the table
  * (the engine's fetch join must surface them as error rows).
  */
object Fixtures {

  val baseEpochSeconds: Long = 1577836800L // 2020-01-01T00:00:00Z, fixed

  /** Build one page row, or None for fetch-miss / non-fetchable URLs.
    * `ftp:` URLs (S8) carry the FTP-rendered golden text
    * ([[SampleRender.renderFtp]]) and skip the liveness screen — the
    * reference's FTP path writes content unconditionally
    * (`spider.py:113-161`, no response object to test). */
  def pageFor(url: String): Option[PageRow] = {
    if (NetSynth.isFetchMiss(url)) return None
    val s = NetSynth.forUrl(url)
    val h = NetSynth.urlSeed(url)
    val warcEpoch = baseEpochSeconds + java.lang.Math.floorMod(h, 100000L)
    val text =
      // scheme test case-insensitive, matching the engine dispatch and
      // the lowered ftpWhere (spider.py:535 tests url.lower())
      if (url.regionMatches(true, 0, "ftp:", 0, 4))
        SampleRender.renderFtp(url, s.content, s.net)
      else {
        val verdict = Liveness.isAlive(Some(s.contentType), s.content, s.status)
        if (verdict.alive) SampleRender.render(url, s.content, s.net)
        else null
      }
    Some(PageRow(url,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(warcEpoch)),
      s.content.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      text, s.lang))
  }

  /** The pages table for one sf dir: distinct fetchable seed URLs →
    * page rows (minus fetch misses). `includeFtp` adds the `ftp:` URLs
    * for S8 crawls (default off — Common-Crawl-style input). */
  def pages(spark: SparkSession, sfDir: String,
      includeFtp: Boolean = false): Dataset[PageRow] = {
    import spark.implicits._
    val where =
      if (includeFtp) s"(${Synth.fetchableWhere}) OR ${Synth.ftpWhere}"
      else Synth.fetchableWhere
    Synth.seeds(spark, sfDir)
      .where(expr(where))
      .select("url").distinct()
      .as[String]
      .flatMap(pageFor _)
  }

  /** Seeds with seq for one sf dir (engine input). */
  def seeds(spark: SparkSession, sfDir: String): DataFrame =
    Synth.seeds(spark, sfDir)
}
