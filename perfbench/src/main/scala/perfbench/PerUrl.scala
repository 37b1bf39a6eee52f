package perfbench

import graft.crawl.Liveness
import graft.features.{ExtractConfig, ExtractorSet5}
import graft.fixtures.{Fixtures, NetSynth}
import graft.html.LinkExtract
import graft.jobs.{CrawlWave, Synth}
import graft.jobs.CrawlWave.{FetchRow, OutcomeK}
import graft.parse.{Blocks, CharsetDecode, SampleRender}
import graft.urls.Canonicalize
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-URL stage timing: the public stage functions called in
  * `CrawlWave.fetchOutcome`'s order on one thread over a fixed sample
  * of the workload's fetched rows, next to the whole function. The
  * replica must reproduce the function's outcome on every sampled row,
  * so the stage split cannot drift from the engine. */
object PerUrl {

  val stageNames: Seq[String] = Seq("fixtures.netsynth_ns", "parse.decode_ns", "html.links_ns",
    "crawl.liveness_ns", "parse.render_split_ns", "features.extract_ns", "jobs.fingerprint_ns")

  private val SampleRows = 1500
  private val WarmPasses = 10
  private val Passes = 11
  // rows per chunk: the stage replica and the whole function take turns
  // on each chunk, so both see the same machine and cache state
  private val Chunk = 50

  /** The first fetchable seed rows (by seq) that have a page. */
  def sample(spark: SparkSession, inputs: String): Array[FetchRow] = {
    import spark.implicits._
    val seeds = spark.read.parquet(s"$inputs/seeds").where(expr(Synth.fetchableWhere))
    val pages = spark.read.parquet(s"$inputs/pages")
    seeds.join(pages, Seq("url")).orderBy("seq").limit(SampleRows)
      .select(col("seq"), col("url"), lit("").as("host"), lit(0).as("wave"),
        xxhash64(col("url")).as("url_hash"), col("warc_ts"), col("html"), col("text_hash"))
      .as[FetchRow].collect()
      .map(r => r.copy(host = Canonicalize.crawlerDomain(r.url)))
  }

  private def replica(r: FetchRow, withLinks: Boolean, t: Array[Long]): OutcomeK = {
    val bytes = r.html.get
    var a = System.nanoTime()
    def lap(i: Int): Unit = { val b = System.nanoTime(); t(i) += b - a; a = b }
    val ct = NetSynth.contentTypeOf(r.url)
    lap(0)
    val content = CharsetDecode.decode(bytes, CharsetDecode.headerCharset(ct))
    lap(1)
    val links = if (withLinks) LinkExtract.links(content) else Nil
    lap(2)
    val synth = NetSynth.forUrlNoBody(r.url, content.length)
    lap(0)
    val verdict = Liveness.isAlive(Some(synth.contentType), content, synth.status)
    lap(3)
    if (!verdict.alive)
      OutcomeK(r.seq, r.url, r.host, r.wave, ok = false, verdict.err, null, null,
        render_match = false, r.url_hash, links)
    else {
      val (text, blocksOpt) = SampleRender.renderWithBlocks(r.url, content, synth.net)
      val data = blocksOpt.getOrElse(Blocks.splitText(text))
      lap(4)
      val asOf = r.warc_ts.map(_.toInstant.getEpochSecond).getOrElse(Fixtures.baseEpochSeconds)
      val features = ExtractorSet5.extractFromBlocks(data, ExtractConfig(asOf))
      lap(5)
      val rm = r.text_hash.contains(CrawlWave.hashText(text))
      lap(6)
      OutcomeK(r.seq, r.url, r.host, r.wave, ok = true, "", text, features,
        render_match = rm, r.url_hash, links)
    }
  }

  private def same(a: OutcomeK, b: OutcomeK): Boolean =
    a.ok == b.ok && a.err == b.err && a.text == b.text &&
      java.util.Arrays.equals(a.features, b.features) &&
      a.render_match == b.render_match && a.links == b.links

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def measure(spark: SparkSession, inputs: String, withLinks: Boolean): Main.Rec = {
    val rows = sample(spark, inputs)
    val n = rows.length
    val t = new Array[Long](stageNames.length)
    // correctness pass (also warms both paths)
    val mismatches = rows.count(r =>
      !same(replica(r, withLinks, t), CrawlWave.fetchOutcome(r, withLinks)))
    val stagePasses = Seq.fill(stageNames.length)(Vector.newBuilder[Double])
    val whole = Vector.newBuilder[Double]
    var sink = 0L
    (0 until WarmPasses).foreach { _ =>
      rows.foreach(r => sink += replica(r, withLinks, t).seq)
      rows.foreach(r => sink += CrawlWave.fetchOutcome(r, withLinks).seq)
    }
    val spans = Vector.newBuilder[Main.Rec]
    var clock = 0L
    (0 until Passes).foreach { p =>
      java.util.Arrays.fill(t, 0L)
      var wholeNs = 0L
      rows.grouped(Chunk).zipWithIndex.foreach { case (chunk, c) =>
        def stages(): Unit = chunk.foreach(r => sink += replica(r, withLinks, t).seq)
        def function(): Unit = {
          val n0 = System.nanoTime()
          chunk.foreach(r => sink += CrawlWave.fetchOutcome(r, withLinks).seq)
          wholeNs += System.nanoTime() - n0
        }
        // alternate which side runs first, so neither always finds the
        // chunk's bytes in cache
        if ((p + c) % 2 == 0) { stages(); function() } else { function(); stages() }
      }
      t.indices.foreach(i => stagePasses(i) += t(i).toDouble / n)
      whole += wholeNs.toDouble / n
      if (p == Passes - 1) {
        // one per_url span per stage for the last replica pass, laid end
        // to end (each is the stage's summed time over the sample)
        def span(id: String, name: String, s: Long, e: Long, parent: String): Unit =
          spans += Map("id" -> id, "name" -> name, "start_ms" -> s / 1e6, "end_ms" -> e / 1e6,
            "parent" -> parent, "run" -> "per_url")
        span("per_url", "per_url", 0L, t.sum, null)
        stageNames.indices.foreach { i =>
          span(s"per_url.$i", stageNames(i), clock, clock + t(i), "per_url")
          clock += t(i)
        }
      }
    }
    Map(
      "rows" -> n,
      "mismatches" -> mismatches,
      "sink" -> sink,
      "fetch_outcome_ns" -> median(whole.result()),
      "spans" -> spans.result()) ++
      stageNames.indices.map(i => stageNames(i) -> median(stagePasses(i).result()))
  }

  /** `Canonicalize.crawlerDomain` ns per seed URL (all seeds, one thread). */
  def canonicalizeNs(spark: SparkSession, inputs: String): Double = {
    import spark.implicits._
    val urls = spark.read.parquet(s"$inputs/seeds").select("url").as[String].collect()
    val hosts = new Array[String](urls.length) // results kept, so the calls stay live
    median((0 until Passes).map { _ =>
      val n0 = System.nanoTime()
      var i = 0
      while (i < urls.length) { hosts(i) = Canonicalize.crawlerDomain(urls(i)); i += 1 }
      (System.nanoTime() - n0).toDouble / urls.length
    })
  }
}
