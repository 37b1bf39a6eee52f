package graft

import graft.frontier.Politeness
import graft.jobs.CrawlWave
import graft.py.Py
import graft.tfidf.TermFile
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The reference repo's REAL data artifacts, run through the engine.
  *
  * `/root/reference/phisher_website` (24,696 URLs) + `legitimate`
  * (1,200) are the exact seed lists `spider.py:516-520`
  * (`crawl_from_file`) consumes: `codecs.open(utf8)` + `readlines()` +
  * per-line `rstrip()`. The ten shipped `tfidf2 K% term` files are
  * golden outputs of `tfidf-elm.py:76-86`. These are the only real
  * reference DATA artifacts on disk; everything else in the test suite
  * runs on deterministic synthetic fixtures. Golden counts below were
  * derived by mirroring `spider.py:522-535`'s dispatch in reference
  * order (scheme test, dotless image-extension suffix test, first-seen
  * dedup) directly over the files.
  */
class RefCorpusSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val refDir = "/root/reference"

  /** `codecs.open(path, 'r', 'utf8').readlines()` + `u.rstrip()`, as
    * `crawl_from_file` does (spider.py:517-520), EXACTLY: a blank line
    * reads as "\n", rstrips to "" and is KEPT (crawl_from_file crawls
    * it), so empties survive here too — only the split artifact of the
    * file's final trailing '\n' (not a readlines line) is dropped. The
    * two shipped corpora contain no blank lines (golden counts below),
    * so this is semantics hygiene, not a count change. */
  private def seedLines(name: String): Vector[String] = {
    val raw = new String(
      Files.readAllBytes(Paths.get(refDir, name)), StandardCharsets.UTF_8)
    val parts = raw.split("\n", -1).toVector
    val lines = if (parts.nonEmpty && parts.last.isEmpty) parts.init else parts
    lines.map(Py.rstrip)
  }

  private lazy val allUrls: Vector[String] =
    seedLines("phisher_website") ++ seedLines("legitimate")

  private def seedsDf = {
    import spark.implicits._
    allUrls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("seq", "url")
  }

  test("corpora load with readlines semantics: 24,696 + 1,200 = 25,896 URLs, all ASCII") {
    assert(seedLines("phisher_website").size == 24696)
    assert(seedLines("legitimate").size == 1200)
    // pure ASCII ⇒ byte-rstrip ≡ unicode-rstrip: the Py2 str/unicode
    // distinction is irrelevant for these two files (checked, not assumed)
    assert(allUrls.forall(_.forall(_ < 128)))
    assert(allUrls.forall(_.nonEmpty))
  }

  test("initFrontier on the real 25,896-URL corpus: dispatch + dedup state counts") {
    val frontier = CrawlWave.initFrontier(seedsDf).cache()
    val counts = frontier.groupBy("state").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the single ftp:// seed (188.126.45.85/user.htm) is dropped when
    // FTP fetch is off, exactly as spider.py's http-only default
    assert(counts("dropped_scheme") == 1L)
    // six real image-suffix URLs (.jpg/.png/...) hit the S3 skip
    assert(counts("dropped_ext") == 6L)
    // 184 exact-duplicate seed lines (min-seq occurrence wins)
    assert(counts("dup") == 184L)
    assert(counts("ready") == 25705L)
    assert(counts.values.sum == 25896L)
    frontier.unpersist()
  }

  test("initFrontier with fetchFtp=true keeps the one ftp seed (S8), ext-skip stays http-only") {
    val counts = CrawlWave.initFrontier(seedsDf, fetchFtp = true)
      .groupBy("state").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("dropped_scheme"))
    assert(counts("dropped_ext") == 6L)
    assert(counts("ready") == 25706L)
  }

  test("politeness schedule over the real frontier: rank/token/wave invariants at 13,985 hosts") {
    val ready = CrawlWave.initFrontier(seedsDf)
      .where(col("state") === "ready")
      .withColumn("priority", lit(0)).cache()
    // 13,985 = distinct crawlerDomain values (userinfo + :port stripped
    // — two raw authorities merge under the canonicalizer)
    assert(ready.select("host").distinct().count() == 13985L)
    // the reference corpus is genuinely host-skewed: hottest host holds 93 URLs
    val top = ready.groupBy("host").count().orderBy(col("count").desc, col("host"))
      .head()
    assert(top.getString(0) == "www.kf25zx.com" && top.getLong(1) == 93L)

    val wavePeriodMs = 3000L
    val sched = Politeness.schedule(ready, wavePeriodMs).cache()
    assert(sched.count() == 25705L)
    // rel_wave is the token-bucket fill: floor((rank-1)/tokens), so per
    // (host, rel_wave) group size never exceeds the host's token budget
    val overfull = sched.groupBy("host", "tokens", "rel_wave").count()
      .where(col("count") > col("tokens")).count()
    assert(overfull == 0L)
    // per-host rank is a permutation of 1..k in (priority, seq) order
    val badRank = sched.groupBy("host")
      .agg(count("*").as("k"), max("host_rank").as("mx"),
        min("host_rank").as("mn"), countDistinct("host_rank").as("d"))
      .where(col("mx") =!= col("k") || col("mn") =!= 1 || col("d") =!= col("k"))
      .count()
    assert(badRank == 0L)
    // the hot host spans ceil(93 / tokens) waves — the politeness window
    // actually throttles the real skew instead of emitting it in one wave
    val hot = sched.where(col("host") === "www.kf25zx.com")
      .agg(max("rel_wave").cast("long"), max("tokens")).head()
    val tokens = hot.getLong(1)
    assert(hot.getLong(0) == (93L + tokens - 1) / tokens - 1)
    sched.unpersist(); ready.unpersist()
  }

  test("all ten shipped `tfidf2 K% term` files parse: golden sizes, aligned, strictly increasing") {
    // column counts of tfidf-elm.py:76-79's any(tfidf >= K/100) filter,
    // per shipped file — monotone nonincreasing in K by construction
    val golden = Map(
      0 -> 7016, 10 -> 6756, 20 -> 6754, 30 -> 6715, 40 -> 6420,
      50 -> 5775, 60 -> 3640, 70 -> 2722, 80 -> 1045, 90 -> 654)
    val sizes = (0 to 90 by 10).map { k =>
      val (idx, terms) = TermFile.read(Paths.get(refDir, s"tfidf2 $k% term"))
      assert(idx.size == golden(k), s"K=$k%")
      assert(terms.size == idx.size, s"K=$k%: indices/terms misaligned")
      assert(idx.zip(idx.tail).forall { case (a, b) => a < b }, s"K=$k%: not increasing")
      k -> idx.size
    }.toMap
    assert((0 until 90 by 10).forall(k => sizes(k) >= sizes(k + 10)))
  }

  test("term-file round trip: render(parse(x)) is byte-identical on a real shipped file") {
    val raw = Files.readString(Paths.get(refDir, "tfidf2 50% term"), StandardCharsets.UTF_8)
    val (idx, terms) = TermFile.parse(raw)
    assert(TermFile.render(idx, terms) == raw.stripLineEnd)
  }
}
