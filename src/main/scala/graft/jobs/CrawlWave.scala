package graft.jobs

import graft.crawl.Liveness
import graft.features.{ExtractConfig, ExtractorSet5}
import graft.fixtures.NetSynth
import graft.frontier.{Politeness, Robots, SeenFilter}
import graft.parse.{Blocks, CharsetDecode, SampleRender}
import graft.store.SnapshotTable
import graft.urls.Canonicalize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The crawl engine: an iterative-batch URL frontier + politeness
  * scheduler + fetch/extract pipeline over snapshot tables (SURVEY.md
  * §2.7/§4.4). Each wave:
  *
  *  1. select `ready` frontier rows whose politeness token-bucket grants
  *     a fetch this wave ([[Politeness]], window functions — 1 shuffle
  *     by host);
  *  2. "fetch"+extract for the WHOLE plan happens ONCE per generation
  *     (lazily, at the first wave): one co-partitioned shuffled-hash
  *     LEFT join against the url-bucketed `pages` table (the sandbox
  *     stand-in for the HTTP GET, SURVEY.md S4 — a live deployment
  *     swaps in an async-HTTP mapPartitions with cost O(slice)), then
  *     decode (charset ladder) → liveness screen → render sample text →
  *     byte-identity check vs the golden `text` column → feature
  *     extraction in ONE narrow typed map, persisted by wave. Only the
  *     frontier shuffles (hash by url — uniform, so host skew cannot
  *     survive the layout); pages is scanned exactly once per
  *     generation, never per wave; a missing page row (null html) =
  *     fetch error;
  *  3. per wave: guard the prefetched slice with the partitioned Bloom
  *     seen-set (broadcast blobs, row-local `mightContain`) + exact
  *     anti-join for the Bloom's false positives (shuffle by url_hash
  *     only for suspects) — planned waves are URL-disjoint, so the
  *     guard commutes with the batched fetch;
  *  4. update frontier states + seen set + Bloom blobs, append samples/
  *     errors, commit an atomic snapshot with per-wave lineage metrics.
  *     Every wave's commit but the crawl's final one flushes in the
  *     background while the next wave computes; [[CrawlWave.flush]]
  *     awaits it.
  *
  * Crash/resume: every wave is one snapshot commit; a new `CrawlWave`
  * over the same store resumes from the latest published version and
  * produces identical results (tested in `CrawlSpec`).
  *
  * Scale notes (the 10^10-URL design point): the frontier, seen set and
  * results are hash/range-partitioned tables — nothing is collected to
  * the driver except the Bloom blobs and the per-wave counters. The
  * broadcast filter is a CAPPED-BUDGET accelerator, not the source of
  * truth: its total size is `seenPartitions` × blob size, and at key
  * counts where a low-FP filter would exceed the broadcast budget
  * (10^10 keys at 10 bits/key ≈ 12 GB) the operator runs an
  * under-provisioned filter instead — the false-positive rate rises,
  * which only grows the per-wave suspect set handed to the EXACT
  * confirm; correctness never depends on the filter (no false
  * negatives is the sole contract). The confirm itself is scan-only at
  * any suspect cardinality: seen deltas are written part-clustered so
  * the confirm prunes its scan to the suspects' filter partitions, and
  * the suspect side is broadcast while it fits Spark's
  * `autoBroadcastJoinThreshold` (shuffled fallback beyond it) — the
  * seen table is never shuffled per wave. Robots rules live in a
  * DISTRIBUTED per-host table joined at plan time (AQE broadcasts it
  * while small; no driver collect at any host cardinality). Fetch and
  * extract are hash-partitioned by `url`, so a hot host spreads across
  * every partition; the one host-keyed stage is the plan-time
  * politeness rank, a window whose hot-host sort is bounded by the
  * waves that host needs ([[graft.frontier.Politeness]]). The fetch join
  * carries only the wave's eligible slice, never the whole frontier,
  * and holds no O(pages) driver state.
  */
object CrawlWave {

  final case class Config(
      wavePeriodMs: Long = 1000L,
      seenPartitions: Int = 32,
      bloomBitsPerPartition: Int = 1 << 22,
      bloomHashes: Int = 5,
      partitions: Int = 32,
      robots: Boolean = true,
      agent: String = "graftbot",
      seenFilter: String = "bloom", // "bloom" | "cuckoo"
      cuckooCapacityPerPartition: Int = 1 << 20,
      // frontier GROWTH: when a generation's plan drains, extract
      // outlinks from its fetched bodies ([[graft.html.LinkExtract]]),
      // drop URLs already in the frontier, and re-plan the remainder as
      // generation g+1 through the same robots+politeness path. Must be
      // on from the first wave (link extraction happens at fetch time).
      discover: Boolean = false,
      // generation cap (seed plan = generation 0) — the crawl also stops
      // on its own when a generation discovers nothing new
      maxGenerations: Int = 8,
      // per-wave-append-table compaction cadence: each wave appends one
      // delta dir to `seen` (rebalanced by part and sorted by it, so the
      // exact confirm prunes row groups), `frontier_delta` and
      // `metrics`, so their read-side file listing/footer cost grows
      // O(waves). When the un-squashed tail reaches this many dirs, the
      // commit folds each table's tail + current delta into ONE dir
      // (SnapshotTable.squash — the Iceberg rewrite-data-files action;
      // seen is rebalanced and sorted by part again, in one shuffle):
      // O(tail) rewrite every K waves
      // amortizes to one extra delta per wave and bounds the dir lists
      // at O(waves / K + K). Rides the async commit. 0 = off.
      compactSeenEvery: Int = 64,
      // snapshot retention: 0 = keep every version (full time travel;
      // storage grows O(waves) — each wave's seen_bloom replace and
      // each squash round leave superseded dirs on disk forever). N>0 =
      // after each compaction round (and on the final commit) expire
      // all but the newest N versions plus the INIT manifest v1 (whose
      // metrics anchor the seen-set layout guard ensurePlan checks on
      // resume), deleting manifests and the data dirs only they
      // reference (SnapshotTable.expire — the Iceberg expire_snapshots
      // maintenance action). Resume needs only the latest version, so
      // any N >= 1 is resume-safe; expired versions stop being
      // time-travel readable.
      expireKeep: Int = 0,
      // S8: fetch `ftp:` URLs through the FTP path (`spider.py:103-161`
      // DownloadFTPFile — NSLOOKUP/HOST/WHOIS + raw content + TIMER, no
      // HEADER/CYCLING blocks, no liveness screen, and the image-ext
      // skip does NOT apply: it lives inside the reference's http branch,
      // spider.py:526-535). Off by default: the design-point input is a
      // Common-Crawl-style pages table, which carries no ftp rows.
      fetchFtp: Boolean = false)

  /** One fetch outcome row (samples ∪ errors discriminated by `ok`).
    * `features` is Array[Double] for the primitive encoder (no boxing at
    * the scratch-write boundary); note case-class equals is therefore
    * REFERENCE equality on that field — compare via DataFrame columns,
    * not Scala ==. */
  final case class Outcome(seq: Long, url: String, host: String, wave: Int, ok: Boolean,
      err: String, text: String, features: Array[Double], render_match: Boolean)

  /** [[Outcome]] + the url hash the seen-set guard keys on + the body's
    * extracted outlinks (internal to the prefetched-fetch cache; both
    * stripped before any table write — links feed the next generation's
    * discovery, empty unless `cfg.discover`). */
  final case class OutcomeK(seq: Long, url: String, host: String, wave: Int, ok: Boolean,
      err: String, text: String, features: Array[Double], render_match: Boolean, url_hash: Long,
      links: Seq[String])

  final case class FetchRow(seq: Long, url: String, host: String, wave: Int, url_hash: Long,
      warc_ts: Option[java.sql.Timestamp], html: Option[Array[Byte]], text_hash: Option[Long])

  val crawlerDomainUdf = udf((u: String) => Canonicalize.crawlerDomain(u))

  /** 64-bit FNV-1a over UTF-8 bytes — the render-identity fingerprint.
    * The golden `text` column is hashed ONCE when the pages table is
    * projected for the fetch join, so the join carries 8 bytes per row
    * instead of the full expected text; the render check compares
    * fingerprints (equality up to a 2^-64 collision — the design-point
    * form of the byte-identity check; the exact string compare lives in
    * the `byte_identity` oracle query and the test fixtures). */
  def hashText(s: String): Long = {
    // streams the UTF-8 encoding through the hash instead of
    // materializing `s.getBytes` (a full-document allocation per row on
    // the fetch hot path); byte-for-byte equal to hashing getBytes(UTF_8)
    // incl. the '?' replacement for unpaired surrogates (property-tested)
    val P = 0x100000001b3L
    var h = 0xcbf29ce484222325L
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c < 0x80) { h ^= c.toLong; h *= P }
      else if (c < 0x800) {
        h ^= (0xc0 | (c >> 6)).toLong; h *= P
        h ^= (0x80 | (c & 0x3f)).toLong; h *= P
      } else if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(s.charAt(i + 1))) {
        val cp = Character.toCodePoint(c, s.charAt(i + 1))
        i += 1
        h ^= (0xf0 | (cp >> 18)).toLong; h *= P
        h ^= (0x80 | ((cp >> 12) & 0x3f)).toLong; h *= P
        h ^= (0x80 | ((cp >> 6) & 0x3f)).toLong; h *= P
        h ^= (0x80 | (cp & 0x3f)).toLong; h *= P
      } else if (Character.isSurrogate(c)) { h ^= '?'.toLong; h *= P }
      else {
        h ^= (0xe0 | (c >> 12)).toLong; h *= P
        h ^= (0x80 | ((c >> 6) & 0x3f)).toLong; h *= P
        h ^= (0x80 | (c & 0x3f)).toLong; h *= P
      }
      i += 1
    }
    h
  }

  val textHashUdf = udf((s: String) =>
    if (s == null) None else Some(hashText(s)))

  /** Initial frontier from a seeds table (`seq`, `url`[, `priority`]):
    * scheme dispatch (S2) + image-extension skip (S3) as dropped states,
    * first-seen dedup (min seq wins, carrying that row's priority),
    * xxhash64 url identity. Priority 0 = most urgent; absent column →
    * all 0 (the reference's flat seed-order semantics). */
  def initFrontier(seeds: DataFrame): DataFrame = initFrontier(seeds, fetchFtp = false)

  /** S2 scheme dispatch + S3 image-extension skip as Columns over a
    * `url`-bearing frame — shared by [[initFrontier]]'s state marking
    * and [[readyHosts]]'s window-free host derivation (one rule, no
    * drift). spider.py:526-535 tests url.lower() with DOTLESS
    * suffixes: a path ending in 'calico' is skipped, and 'HTTP://…' /
    * '….JPG' match. The ext skip applies ONLY to http URLs — it lives
    * inside the reference's http branch, so `ftp://…/x.jpg` IS fetched
    * (quirk preserved). */
  private def dispatchCond(fetchFtp: Boolean): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val urlLower = lower(col("url"))
    val imageExts = Seq("ico", "jpg", "png", "pdf", "bmp", "tiff")
    val extCond = imageExts.map(e => urlLower.endsWith(e)).reduce(_ || _)
    val schemeOk =
      if (fetchFtp) urlLower.startsWith("http") || urlLower.startsWith("ftp:")
      else urlLower.startsWith("http")
    val extSkip =
      if (fetchFtp) extCond && !urlLower.startsWith("ftp:") else extCond
    (schemeOk, extSkip)
  }

  /** Distinct crawler-domain hosts of the rows [[initFrontier]] will
    * mark fetchable — derived straight from the seeds frame, WITHOUT
    * the url-dup window (dup rows share their url's host, so the set
    * is exactly the ready rows' hosts). Feeding this to the robots
    * rules table keeps the windowed frontier out of that subtree:
    * before, the frontier had to be persisted just so the host-distinct
    * side would not re-run the seed-scan → dup-window pass. */
  def readyHosts(seeds: DataFrame, fetchFtp: Boolean): DataFrame = {
    val (schemeOk, extSkip) = dispatchCond(fetchFtp)
    seeds.where(schemeOk && !extSkip)
      .select(crawlerDomainUdf(col("url")).as("host")).distinct()
  }

  def initFrontier(seeds: DataFrame, fetchFtp: Boolean): DataFrame = {
    val (schemeOk, extSkip) = dispatchCond(fetchFtp)
    val firstSeen = org.apache.spark.sql.expressions.Window.partitionBy("url")
      .orderBy(col("seq").asc)
    val withPriority =
      if (seeds.columns.contains("priority")) seeds
      else seeds.withColumn("priority", lit(0))
    withPriority
      .withColumn("state",
        when(!schemeOk, lit("dropped_scheme"))
          .when(extSkip, lit("dropped_ext"))
          .otherwise(lit("ready")))
      .withColumn("rk", row_number().over(firstSeen))
      .withColumn("state", when(col("state") === "ready" && col("rk") > 1, lit("dup")).otherwise(col("state")))
      .drop("rk")
      .withColumn("url_hash", xxhash64(col("url")))
      .withColumn("host", crawlerDomainUdf(col("url")))
      .withColumn("wave", lit(-1))
  }

  def emptySeen(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Int, Long)].toDF("part", "url_hash")
  }

  def emptyBlobs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Int, Array[Byte])].toDF("part", "blob")
  }

  def emptyOutcomes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[Outcome].toDF()
  }

  def emptyMetrics(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Int, Int, String, Long, Long, Long, Long)]
      .toDF("wave", "part_id", "host", "urls", "errors", "render_mismatches", "text_bytes")
  }

  /** Per-wave frontier state-change rows (seq → state at wave). */
  def emptyDelta(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Long, String, Int)].toDF("seq", "state", "wave")
  }

  /** Decode/liveness/render/extract for one fetched row — the whole
    * per-URL reference pipeline as a pure function (object-level so the
    * task closure serializes no driver state). `withLinks` additionally
    * extracts the body's outlinks from EVERY fetch hit (dead pages too —
    * liveness gates sampling, not discovery) for frontier growth. */
  def fetchOutcome(r: FetchRow): OutcomeK = fetchOutcome(r, withLinks = false)

  def fetchOutcome(r: FetchRow, withLinks: Boolean): OutcomeK = r.html match {
    case None =>
      // requests-exception analogue (spider.py:208-244, S7)
      OutcomeK(r.seq, r.url, r.host, r.wave, ok = false, "fetch failed (no response)",
        null, null, render_match = false, r.url_hash, Nil)
    case Some(bytes) if r.url.regionMatches(true, 0, "ftp:", 0, 4) =>
      // scheme tests are case-insensitive, like initFrontier's dispatch
      // (spider.py:535 tests url.lower()) — 'FTP://…' must not fall
      // through to the HTTP decode/liveness/render pipeline
      // S8 FTP path (spider.py:113-161): content decoded utf-8 with
      // replacement (`r.decode('utf-8', errors='replace')`, :158 — no
      // meta-charset sniff, no ladder), NO liveness screen (the
      // reference writes FTP content unconditionally), NSLOOKUP/HOST/
      // WHOIS + content + TIMER render. No link discovery: the
      // reference extracts hrefs only from the HTTP flow's html.
      val content = CharsetDecode.decodeUtf8Replace(bytes)
      val synth = NetSynth.forUrlNoBody(r.url, content.length)
      val text = SampleRender.renderFtp(r.url, content, synth.net)
      val asOf = r.warc_ts.map(_.toInstant.getEpochSecond)
        .getOrElse(graft.fixtures.Fixtures.baseEpochSeconds)
      val features = ExtractorSet5.extract(text, ExtractConfig(asOf))
      OutcomeK(r.seq, r.url, r.host, r.wave, ok = true, "", text,
        features, render_match = r.text_hash.contains(hashText(text)),
        r.url_hash, Nil)
    case Some(bytes) =>
      // sandbox S5: per-row deterministic net info. The page BODY is
      // decoded from the fetched bytes — forUrlNoBody skips the
      // synthesizer's own body construction (pure allocation waste on
      // the hot path; Content-Length comes from the decoded length,
      // identical by utf-8 round trip).
      val ct = NetSynth.contentTypeOf(r.url)
      val content = CharsetDecode.decode(bytes, CharsetDecode.headerCharset(ct))
      val links = if (withLinks) graft.html.LinkExtract.links(content) else Nil
      val synth = NetSynth.forUrlNoBody(r.url, content.length)
      val verdict = Liveness.isAlive(Some(synth.contentType), content, synth.status)
      if (!verdict.alive)
        OutcomeK(r.seq, r.url, r.host, r.wave, ok = false, verdict.err, null, null,
          render_match = false, r.url_hash, links)
      else {
        // render + block split in one step: the direct-blocks fast path
        // (sentinel-free payloads, the overwhelmingly common case) skips
        // re-scanning the text the render just assembled; a payload
        // containing "<=" falls back to the exact reference re-split
        val (text, blocksOpt) = SampleRender.renderWithBlocks(r.url, content, synth.net)
        val data = blocksOpt.getOrElse(Blocks.splitText(text))
        val asOf = r.warc_ts.map(_.toInstant.getEpochSecond)
          .getOrElse(graft.fixtures.Fixtures.baseEpochSeconds)
        val features = ExtractorSet5.extractFromBlocks(data, ExtractConfig(asOf))
        OutcomeK(r.seq, r.url, r.host, r.wave, ok = true, "", text,
          features, render_match = r.text_hash.contains(hashText(text)), r.url_hash,
          links)
      }
  }
}

final class CrawlWave(
    spark: SparkSession,
    pages: DataFrame,
    store: SnapshotTable,
    cfg: CrawlWave.Config = CrawlWave.Config(),
    fetcher: Option[Fetcher] = None) {

  import CrawlWave._
  import spark.implicits._

  // checked before init writes anything: the kind is first read by the
  // init commit's metrics, which are evaluated after its table writes
  require(cfg.seenFilter == "bloom" || cfg.seenFilter == "cuckoo",
    s"unknown seen filter: ${cfg.seenFilter}")

  /** The fetch seam ([[Fetcher]]): default = the bucketed page-store
    * join; pass a [[TransportFetcher]] to crawl live instead (the pages
    * table is then only the golden-fixture source and may be empty). */
  private lazy val theFetcher: Fetcher =
    fetcher.getOrElse(new PageJoinFetcher(pagesByUrl, cfg.partitions))

  /** Pages pre-partitioned by the fetch-join key ONCE and cached, so
    * every wave's join reuses the partitioning (only the small wave
    * slice shuffles — at the 10^10 design point this is bucketing on
    * `url` of the pages table). */
  private lazy val pagesByUrl: DataFrame = {
    // project ONCE to the fetch-join schema: the golden text column is
    // reduced to its 8-byte fingerprint so the join output (and the
    // typed-map encoder boundary) never materializes the expected text.
    // A pages table that already carries `text_hash` (fingerprint
    // computed at ingest/bucketing time — the golden text is a
    // verification fixture, and a deployment stores its 8 bytes, not a
    // second copy of every rendering) skips both the UDF and the scan
    // of the text bytes; otherwise the hash is derived here.
    val projected =
      if (pages.columns.exists(_.equalsIgnoreCase("text_hash")))
        pages.select(col("url"), col("warc_ts"), col("html"), col("text_hash"))
      else pages.select(col("url"), col("warc_ts"), col("html"),
        textHashUdf(col("text")).as("text_hash"))
    projected.repartition(cfg.partitions, col("url")).cache()
  }

  // plan state (rebuilt deterministically on resume)
  private var plan: DataFrame = _
  private var planMaxWave: Int = -1
  private var nextWave: Int = 0
  // crawl generation: 0 = the seed plan; +1 per discovery re-plan.
  // Each generation owns its prefetch scratch dataset (gen 0 keeps the
  // bare name so pre-discovery stores stay readable).
  private var generation: Int = 0
  // first wave of the current generation. Prefetch lower bound: prior
  // generations' rows are still state='ready' in the frontier table
  // (per-wave outcomes live in frontier_delta until the final-wave
  // reconcile), so an unbounded ready-filter would re-fetch and
  // re-extract every earlier generation into each new scratch dataset
  // — up to maxGenerations× redundant compute and disk.
  private var genWave0: Int = 0
  private def scratchName: String =
    if (generation == 0) "prefetch" else s"prefetch_g$generation"
  // fetch+extract of the WHOLE plan, one co-partitioned join + one
  // extraction pass (see prefetchAll)
  private var prefetched: DataFrame = _
  // serialized seen-filter blobs carried between waves (store-backed).
  // Written by the pipelined-commit thread, read by the driver thread;
  // a stale read is SOUND (planned waves are URL-disjoint) but must be
  // un-torn, hence volatile.
  @volatile private var blobState: Array[(Int, Array[Byte])] = _

  /** Compaction cursor for the per-wave append tables (seen,
    * frontier_delta, metrics — all squashed on one shared round
    * counter): `seenKeepDirs` = completed squash rounds = length of
    * each table's already-compacted prefix (its squash outputs and
    * nothing else), `seenTailDirs` = raw seen delta dirs after it (the
    * trigger measure). Mutated only inside doCommit (commits are
    * strictly ordered), read by the next doCommit and by ensurePlan on
    * resume. */
  @volatile private var seenKeepDirs: Int = 0
  @volatile private var seenTailDirs: Int = 0
  // the in-flight commit of the last non-final wave: wave k's snapshot
  // flush overlaps wave k+1's compute. Safe because planned waves are
  // URL-disjoint (the next wave's seen guard never needs the in-flight
  // delta) and commits stay strictly ordered (each awaits its
  // predecessor before publishing).
  private var pending: Option[scala.concurrent.Future[Int]] = None

  /** Await the in-flight commit, if any, and return the latest
    * published version. Call it before reading the store or opening
    * another engine over it after [[step]]; [[runAll]] ends with it. */
  def flush(): Int = {
    import scala.concurrent.{Await, duration}
    val awaited = pending.map(f => Await.result(f, duration.Duration.Inf))
    pending = None
    awaited.orElse(store.latestVersion).getOrElse(
      throw new IllegalStateException("call init() first"))
  }

  /** Robots deny + politeness schedule over an [[initFrontier]]-shaped
    * frame; scheduled rows get wave numbers starting at `waveOffset`
    * (0 for the seed plan, lastWave+1 for discovery generations).
    *
    * @param hosts the ready rows' distinct hosts
    *        ([[CrawlWave.readyHosts]] over the same seeds) — computed
    *        WITHOUT the dup window so the robots rules-table subtree
    *        neither re-evaluates nor forces persisting the windowed
    *        frontier (it used to: the 1-core init profile showed the
    *        seed-scan → dup-window pass twice as twin ~7 s jobs, and
    *        the persist that fixed it was itself a full wide-row cache
    *        write). Hosts of non-ready rows may be absent: the deny
    *        UDF only flips 'ready' rows and the schedule only reads
    *        ready rows' crawl delays, so the join's null robots_txt on
    *        dropped/dup rows is inert (dup rows share a ready row's
    *        url, hence its host). */
  private def schedulePlan(frontier0: DataFrame, waveOffset: Int,
      hosts: DataFrame): DataFrame = {
    val agent = cfg.agent
    releasePlanScratch() // at most one generation's scratch in flight
    val denied0 =
      if (!cfg.robots) frontier0.withColumn("crawl_delay_ms", lit(null).cast("long"))
      else {
        val robots = Robots.rulesTable(hosts, agent = agent)
        val deniedUdf = udf { (txt: String, url: String) =>
          txt != null && !Robots.cachedParse(txt, agent).isAllowed(Robots.pathOf(url))
        }
        frontier0.join(robots, Seq("host"), "left")
          .withColumn("state",
            when(col("state") === "ready" && deniedUdf(col("robots_txt"), col("url")),
              lit("denied_robots")).otherwise(col("state")))
          .drop("robots_txt")
      }
    // `denied` feeds TWO consumers — the scheduled (ready) union leg and
    // the non-ready leg. Uncached, each re-evaluates the whole upstream
    // (seed scan → dup window → robots join).
    // Persist once; released by the caller after the plan materializes.
    val denied = denied0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    planScratch ::= denied
    val scheduled = Politeness
      .schedule(denied.where(col("state") === "ready"), cfg.wavePeriodMs)
      .withColumn("wave", (col("rel_wave") + lit(waveOffset)).cast("int"))
      .drop("host_rank", "tokens", "rel_wave")
    denied.where(col("state") =!= "ready")
      .unionByName(scheduled).drop("crawl_delay_ms")
  }

  /** The intermediate plan frames persisted by [[schedulePlan]]
    * (currently just the robots-checked `denied` frame), alive until
    * the derived plan is materialized (cache + commit). */
  private var planScratch: List[DataFrame] = Nil
  private def releasePlanScratch(): Unit = {
    planScratch.foreach(_.unpersist(false))
    planScratch = Nil
  }

  /** Error rows for plan-time terminal states (S2/S3 drops, dup,
    * robots denials) of a planned frontier frame — as a METADATA-ONLY
    * [[graft.store.SnapshotTable.ViewRef]] over the frontier data dir
    * the same commit writes. The rows already live byte-for-byte in
    * the frontier table; re-writing them as an errors parquet was one
    * full extra pass over the plan at init and per discovery
    * generation (measured: 2.7 s of the 13.5 s 4-core init, 7.5 s at
    * 1 core — and at the 10^10 design point it would be a second copy
    * of hundreds of millions of dropped rows). The Iceberg analogue is
    * existing data files adopted by a metadata-only append. */
  private[jobs] val planErrorsWhere =
    "state IN ('dropped_scheme','dropped_ext','dup','denied_robots')"
  private[jobs] val planErrorsSelect = Seq(
    "seq", "url", "host", "CAST(-1 AS int) AS wave", "false AS ok",
    "CASE WHEN state = 'dropped_scheme' THEN 'skip this file(scheme)' " +
      "WHEN state = 'dropped_ext' THEN 'skip this file' " +
      "WHEN state = 'denied_robots' THEN 'robots.txt disallow' " +
      "ELSE 'duplicate url' END AS err",
    "CAST(NULL AS string) AS text",
    "CAST(NULL AS array<double>) AS features",
    "false AS render_match")
  /** The base is the frontier table ROOT (not the version dir), so the
    * seed plan's and every discovery generation's error views share one
    * (base, where, select) shape and the commit merge folds them into a
    * SINGLE view group: errors reads one multi-dir parquet scan + one
    * filter instead of O(generations) separately-filtered scans, and
    * the manifest's views list stays O(1) in generations (round-3
    * ADVICE). ViewRef dirs are store-relative full paths; base only
    * feeds the reader's basePath (no k=v partition dirs here, so the
    * wider base changes no inferred columns). */
  private def planErrorsRef(frontierDir: String): graft.store.SnapshotTable.ViewRef =
    graft.store.SnapshotTable.ViewRef("data/frontier", Seq(frontierDir),
      planErrorsWhere, planErrorsSelect)

  /** Commit snapshot v1 — the CRAWL PLAN — unless the store already has
    * a snapshot to resume from. Returns the start version.
    *
    * Planning happens once, not per wave:
    *  - robots deny: a DISTRIBUTED per-host rules table
    *    ([[Robots.rulesTable]]) left-joined by host (AQE broadcasts it
    *    while small — no driver collect of hosts at any cardinality);
    *    denied rows → `denied_robots` + error rows; the same join
    *    carries each host's `Crawl-delay` into the schedule;
    *  - the politeness token-bucket schedule assigns every allowed ready
    *    row its wave number (ONE window shuffle by host for the whole
    *    crawl — the greedy per-wave re-rank provably selects the same
    *    rows, see CrawlSpec "static politeness window schedule").
    * URLs discovered mid-crawl enter through a re-plan of the same path
    * as the next generation ([[planNextGeneration]]).
    */
  def init(seeds: DataFrame): Int = store.latestVersion.getOrElse {
    // seq integrity FIRST, on the narrow seeds projection: `seq` is the
    // engine's row identity — the final-wave reconcile joins
    // frontier_delta back by it, and the politeness rank breaks
    // (priority) ties by it — so a null or duplicated seq in
    // caller-supplied seeds would corrupt the reconcile (row
    // multiplication) and make the crawl order nondeterministic
    // SILENTLY. Fail fast at the one place the contract enters (fresh
    // init; discovery seqs are constructed unique, and resumes inherit
    // a checked frontier). initFrontier maps seeds rows 1:1, so the
    // check over seeds ≡ the check over the frontier — and running it
    // here keeps countDistinct's EXPAND off the wide frontier plan
    // (measured: ~9 s of the 39 s 1-core init at rep 16 sf0.1; over
    // the 1-column projection of the caller's usually-cached seeds it
    // is a fraction of that).
    val sq = seeds.agg(count(lit(1)),
      count(col("seq")), countDistinct(col("seq"))).head
    val n = sq.getLong(0)
    if (sq.getLong(1) < n)
      throw new IllegalArgumentException(
        s"seeds carry ${n - sq.getLong(1)} null seq values (of $n rows) — " +
          "seq is the frontier row identity and must be non-null")
    if (sq.getLong(2) < n)
      throw new IllegalArgumentException(
        s"seeds carry duplicate seq values (${sq.getLong(2)} distinct of $n " +
          "rows) — seq is the frontier row identity (reconcile join key, " +
          "politeness tie-break) and must be unique")
    // plan stats (seed count + last wave, recorded in the manifest so
    // the wave driver never re-aggregates the frontier — ensurePlan is
    // zero Spark jobs) ride the COMMIT'S OWN WRITE via observe: the v1
    // frontier write is then init's single materialization of the plan
    // chain, where it used to be cache-materialize + agg re-scan +
    // write (two extra passes over the wide plan on the init serial
    // path). `metrics` is by-name in commit, evaluated after the write,
    // so obs.get never blocks.
    val obs = org.apache.spark.sql.Observation("init_stats")
    val frontier = schedulePlan(initFrontier(seeds, cfg.fetchFtp), 0,
        readyHosts(seeds, cfg.fetchFtp))
      .observe(obs, count(lit(1)).as("n"), max(col("wave")).as("mw"))
    val v = store.commit(
      replace = Map("frontier" -> frontier, "seen_bloom" -> emptyBlobs(spark)),
      append = Map(
        "seen" -> emptySeen(spark),
        "samples" -> emptyOutcomes(spark).limit(0),
        "metrics" -> emptyMetrics(spark),
        "frontier_delta" -> emptyDelta(spark)),
      // plan-time error rows (S2/S3 drops, dup, robots denials) as a
      // metadata-only view over the frontier dir this commit writes
      // (init only runs on an empty store → this is always v1)
      appendRef = Map("errors" -> planErrorsRef(
        f"data/frontier/v${store.latestVersion.getOrElse(0) + 1}%05d")),
      metrics = {
        val m = obs.get
        Map("wave" -> -1L, "seeds" -> m("n").asInstanceOf[Long], "gen" -> 0L,
          "gen_wave0" -> 0L, "seen_keep_dirs" -> 0L,
          "max_wave" -> Option(m("mw")).map(_.asInstanceOf[Int].toLong)
            .getOrElse(-1L)) ++ layoutMetrics
      })
    releasePlanScratch()
    v
  }

  /** The seen-set LAYOUT this config would build, recorded in the init
    * manifest (metrics are Long-valued; kind as a code). The layout is
    * structural: blobs are keyed by `url_hash mod seen_parts` and sized
    * by the bits/capacity knobs, so a resume under a different layout
    * would look keys up in the wrong blob — a SILENT false negative
    * (recrawl of done URLs), the one error the seen-set contract rules
    * out. [[ensurePlan]] fails fast on any mismatch instead. */
  private def layoutMetrics: Map[String, Long] = {
    val kindCode = if (cfg.seenFilter == "bloom") 0L else 1L
    Map("seen_parts" -> cfg.seenPartitions.toLong, "seen_kind" -> kindCode) ++
      (if (cfg.seenFilter == "bloom")
        Map("bloom_bits" -> cfg.bloomBitsPerPartition.toLong,
            "bloom_hashes" -> cfg.bloomHashes.toLong)
      else Map("cuckoo_cap" -> cfg.cuckooCapacityPerPartition.toLong))
  }

  /** Refuse to resume a store whose recorded seen-set layout (the init
    * manifest v1's metrics) differs from `cfg`. A kind mismatch would
    * otherwise surface as an obscure blob-header error waves later, and
    * a sizing or `seen_parts` change not at all (silently mis-routed
    * lookups). A key v1 lacks is a mismatch too: init records every
    * key of its kind, so it means the other kind or a foreign store. */
  private def checkLayout(recorded: Map[String, Long]): Unit = {
    val want = layoutMetrics
    val bad = for ((k, have) <- want.toSeq.sortBy(_._1);
        rec = recorded.get(k); if !rec.contains(have))
      yield rec.fold(s"$k: manifest v1 lacks it, config wants $have")(r =>
        s"$k: store has $r, config wants $have")
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"seen-set layout mismatch on resume [${bad.mkString("; ")}] — the " +
          "broadcast-filter blobs are laid out (url_hash mod seen_parts, " +
          "per-blob sizing) by the writing config; reuse that config or " +
          "start a fresh store")
  }

  /** Load (or reload after resume) the plan + wave cursor — fully from
    * MANIFEST METADATA (the plan DataFrame itself is lazy and
    * materializes with the first wave's work). Deterministic, so a
    * crashed run's successor continues identically. Returns false,
    * without reading the plan, when `v` is a reconcile-only commit
    * ([[reconcileFrontier]]): discovery already came up empty after the
    * crawl's last wave, so the crawl is over — decided with zero Spark
    * jobs. */
  private def ensurePlan(v: Int): Boolean = {
    if (plan != null) return true
    checkLayout(store.metricsOf(1))
    val m = store.metricsOf(v)
    if (m.get("reconciled").contains(1L) && !m.contains("selected")) return false
    // every commit writes the whole cursor, so the LATEST manifest
    // fully locates it; the wave metric IS the cursor (init wrote -1)
    planMaxWave = requiredMetric(m, v, "max_wave").toInt
    generation = requiredMetric(m, v, "gen").toInt
    genWave0 = requiredMetric(m, v, "gen_wave0").toInt
    nextWave = requiredMetric(m, v, "wave").toInt + 1
    seenKeepDirs = requiredMetric(m, v, "seen_keep_dirs").toInt
    plan = store.read("frontier", v).cache()
    seenTailDirs = math.max(0,
      store.tableDirs(v).getOrElse("seen", Nil).length - seenKeepDirs)
    true
  }

  /** A cursor metric every engine commit writes: missing, the
    * store was not written by this engine (or is damaged), and guessing
    * a default could recrawl or skip waves silently. */
  private def requiredMetric(m: Map[String, Long], v: Int, key: String): Long =
    m.getOrElse(key, throw new IllegalStateException(
      s"manifest v$v lacks the required metric '$key' — not a crawl store this engine wrote"))

  private def cleanup(): Unit = {
    if (plan != null) { plan.unpersist(); plan = null }
    if (prefetched != null) { prefetched.unpersist(); prefetched = null }
    releasePlanScratch()
  }

  /** Fetch + extract for EVERY planned ready row, lazily computed once
    * per plan (generation) and persisted: ONE co-partitioned
    * shuffled-hash LEFT join against the url-bucketed `pages` table
    * (the sandbox stand-in for the HTTP GET, SURVEY.md S4) and ONE
    * extraction pass, instead of re-streaming the pages table every
    * wave. Planned waves are URL-disjoint, so prefetching commutes with
    * the per-wave seen-guard (which still runs per wave, on the slice).
    * Misses (null html) become error rows.
    *
    * Scale shape: only the frontier slice shuffles (hash by url —
    * uniform keys, host skew cannot survive the layout); the cached
    * pages side is scanned exactly ONCE per crawl generation and the
    * hash builds on the frontier side (BuildLeft). At the 10^10 design
    * point this is the bucketed-join bulk-fetch over the page store; in
    * a live deployment the [[Fetcher]] seam swaps the join for a
    * host-clustered async-HTTP [[TransportFetcher]] whose cost is
    * O(slice), not O(pages). */
  private def prefetchAll(): DataFrame = {
    if (prefetched == null) {
      val dir = store.scratchPath(scratchName)
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "_SUCCESS_GRAFT"))) {
        val withLinks = cfg.discover // capture the flag, not the config
        val slice = plan
          // wave >= genWave0: fetch THIS generation only (earlier
          // generations are still 'ready' in the table — see genWave0)
          .where(col("state") === "ready" && col("wave") >= genWave0)
          .select("seq", "url", "host", "wave", "url_hash")
        theFetcher.fetch(slice)
          .as[FetchRow].map(r => CrawlWave.fetchOutcome(r, withLinks)).toDF()
          // text_len lets every small consumer (metrics, seen delta,
          // frontier delta) prune the text column away entirely — only
          // the samples write ever decodes text again
          // octet_length (UTF-8 bytes), not length (chars): this sums
          // into the lineage metric NAMED text_bytes
          .withColumn("text_len", when(col("ok"), octet_length(col("text")).cast("long")).otherwise(0L))
          // materialized OFF-HEAP, clustered by wave: each wave's slice
          // reads only its own files (partition pruning), the JVM heap
          // never holds the full crawl's text, and a resumed run reuses
          // the scratch dataset instead of re-fetching
          .write.mode("overwrite").partitionBy("wave").parquet(dir)
        java.nio.file.Files.createDirectory(java.nio.file.Paths.get(dir, "_SUCCESS_GRAFT"))
      }
      // canonical column order (partitionBy moved `wave` to the end).
      // Schema is pinned from the encoder, not inferred: a generation
      // whose ready set is EMPTY writes zero parquet files and schema
      // inference would throw — with an explicit schema the read-back
      // is just an empty frame and the drain path proceeds normally.
      val scratchSchema = org.apache.spark.sql.types.StructType(
        implicitly[org.apache.spark.sql.Encoder[CrawlWave.OutcomeK]].schema
          .fields :+ org.apache.spark.sql.types.StructField(
            "text_len", org.apache.spark.sql.types.LongType))
      prefetched = spark.read.schema(scratchSchema).parquet(dir)
        .select("seq", "url", "host", "wave", "ok", "err", "text",
          "features", "render_match", "url_hash", "links", "text_len")
    }
    prefetched
  }

  /** Discovery: the CURRENT generation's extracted outlinks, minus URLs
    * already in the frontier, re-planned as generation g+1 through the
    * same robots+politeness path the seeds took. Returns true iff a new
    * generation with at least one schedulable wave was planned (and the
    * in-memory plan state swapped to it).
    *
    * Scale shape: one pass over the generation's prefetch scratch
    * (links column only — parquet prunes the text bytes), a url
    * anti-join against the frontier (both sides hash-shuffled by url —
    * at the 10^10 design point both live url-bucketed, making this a
    * co-located join), and a range-partitioned sort + zipWithIndex for
    * the deterministic seq assignment — no driver-side URL sets and no
    * partition-less windows at any frontier size. */
  private def planNextGeneration(): Boolean = {
    // everything up to the commit overlaps the generation's last wave
    // commit, which may still be flushing (it wrote only deltas: the
    // plan's url set, which the anti-join reads, is unchanged by it)
    val discovered = prefetchAll()
      .select(explode(col("links")).as("url"))
      .distinct()
      .join(plan.select("url"), Seq("url"), "left_anti")
      .cache()
    val nDiscovered = discovered.count()
    if (nDiscovered == 0) { discovered.unpersist(); return false }
    val baseSeq = plan.agg(max("seq")).head.getLong(0)
    // deterministic, parallelism-invariant seq: discovered URLs are
    // numbered baseSeq+1.. in global url order (sorted-range partitions
    // + zipWithIndex, the distributed form of a global row_number)
    val newSeeds = spark.createDataset(
      discovered.sort("url").select("url").as[String].rdd
        .zipWithIndex()
        .map { case (u, i) => (baseSeq + 1 + i, u) })
      .toDF("seq", "url")
    // the new generation's last wave is observed on the commit's own
    // frontier write (as in init), so the plan is materialized once
    val obs = org.apache.spark.sql.Observation("gen_stats")
    val planned = schedulePlan(initFrontier(newSeeds, cfg.fetchFtp), planMaxWave + 1,
      readyHosts(newSeeds, cfg.fetchFtp)).observe(obs, max(col("wave")).as("mw"))
    def newMax: Int = Option(obs.get("mw"))
      .fold(planMaxWave)(w => math.max(planMaxWave, w.asInstanceOf[Int]))
    val v = flush()
    // the new generation is APPENDED as a frontier delta dir — the
    // commit costs O(discovered), not O(frontier) (a replace would
    // rewrite the whole 10^10-row table once per generation); readers
    // see the identical union through the manifest's dir list. The
    // frontier is reconciled once per crawl (the final generation's
    // last wave, or reconcileFrontier).
    val c = store.commit(
      append = Map("frontier" -> planned),
      // plan-time error rows: metadata-only view over the SAME frontier
      // delta dir this commit writes (expectedParent pins its version)
      appendRef = Map("errors" -> planErrorsRef(f"data/frontier/v${v + 1}%05d")),
      metrics = Map("wave" -> planMaxWave.toLong, "max_wave" -> newMax.toLong,
        "gen" -> (generation + 1).toLong, "discovered" -> nDiscovered,
        "gen_wave0" -> (planMaxWave + 1).toLong,
        "seen_keep_dirs" -> seenKeepDirs.toLong, "reconciled" -> 0L),
      expectedParent = Some(v))
    discovered.unpersist(); releasePlanScratch()
    // swap the plan state to the new generation (its scratch dataset is
    // written lazily by the first new wave's prefetchAll)
    cleanup()
    generation += 1
    genWave0 = planMaxWave + 1 // == nextWave: first wave of the new gen
    plan = store.read("frontier", c).cache()
    planMaxWave = newMax
    // nextWave is already old-planMaxWave + 1 — the first new wave
    newMax >= nextWave
  }

  /** Whether discovery may plan another generation after the current
    * one: then the generation's last wave commits like any other wave
    * (pipelined, no frontier rewrite) and the re-plan overlaps its
    * flush. */
  private def mayGrow: Boolean = cfg.discover && generation < cfg.maxGenerations

  /** The plan with every wave's state change applied: the full
    * `frontier` table as the crawl leaves it. */
  private def reconciled(deltas: DataFrame): DataFrame =
    plan.join(deltas.select(col("seq"), col("state").as("d_state")), Seq("seq"), "left")
      .withColumn("state", coalesce(col("d_state"), col("state")))
      .drop("d_state")

  /** The drained crawl's frontier reconcile when no wave did it: a
    * discovery crawl whose last generation found nothing (or planned no
    * schedulable wave) ends here. One commit carrying only the cursor
    * metrics; a latest version already marked reconciled (a rerun over
    * a finished store, or a crawl whose final wave reconciled) adds
    * none. The init manifest v1 carries no mark by design: its
    * frontier IS the plan, so there is nothing to reconcile, and
    * marking it reconciled would end the crawl before wave 0
    * ([[ensurePlan]]) — hence the default. */
  private def reconcileFrontier(): Unit = {
    val v = flush()
    val m = store.metricsOf(v)
    if (m.getOrElse("reconciled", 1L) == 0L) {
      val cursor = Set("wave", "max_wave", "gen", "gen_wave0", "seen_keep_dirs")
      store.commit(
        replace = Map("frontier" -> reconciled(store.read("frontier_delta", v))),
        metrics = m.filter { case (k, _) => cursor(k) } + ("reconciled" -> 1L),
        expectedParent = Some(v))
      if (cfg.expireKeep > 0) store.expire(cfg.expireKeep, alwaysKeep = Set(1))
    }
  }

  /** Run one planned wave; returns false, with every commit published,
    * when the crawl has drained. A non-final wave's commit is still
    * flushing when this returns ([[flush]] awaits it). The crawl's final
    * wave (or, after a discovery generation that found nothing, one
    * reconcile-only commit) commits inline and rewrites the full
    * `frontier` table — the only O(frontier) write after v1, once per
    * crawl. */
  def step(): Boolean = {
    val v = store.latestVersion.getOrElse(
      throw new IllegalStateException("call init() first"))
    if (!ensurePlan(v)) return false
    if (nextWave > planMaxWave) {
      if (mayGrow && planNextGeneration()) return step()
      reconcileFrontier()
      cleanup(); return false
    }
    val wave = nextWave
    // the wave's prefetched fetch+extract results (columnar cache slice
    // — batch stats prune other waves' batches; no pages scan here)
    val slice = prefetchAll().where(col("wave") === wave)

    // seen-set guard: Bloom/cuckoo pre-filter (broadcast blobs
    // maintained INCREMENTALLY in the snapshot — read is O(blobs), not
    // O(seen)); exact anti-join only for the filter's false positives.
    // Blobs are carried in memory between waves (store read only on the
    // first wave of an instance / after resume). Planned waves are
    // URL-disjoint, so guarding AFTER the prefetched fetch selects
    // exactly the rows the fetch-then-guard order would have fetched —
    // and blobs missing an IN-FLIGHT sibling wave's delta are equivalent
    // to current ones (no planned wave's keys appear in another's), so
    // the guard may read `blobState` without awaiting the pipelined
    // commit that updates it.
    val blobs: Array[(Int, Array[Byte])] =
      if (blobState != null) blobState
      else store.read("seen_bloom", v).as[(Int, Array[Byte])].collect()
    val filterKind = cfg.seenFilter
    val filterMap: Map[Int, SeenFilter] =
      blobs.map { case (p, b) => p -> SeenFilter.deserialize(filterKind, b) }.toMap
    val bloomBc = spark.sparkContext.broadcast(filterMap)
    val P = cfg.seenPartitions
    val mightContainUdf = udf { (h: Long) =>
      bloomBc.value.get(java.lang.Math.floorMod(h, P.toLong).toInt).exists(_.mightContain(h))
    }
    val narrow = slice.select("url_hash", "seq", "host", "wave", "ok",
      "render_match", "text_len")

    // THE wave's one synchronous job: totals for the commit manifest +
    // the bloom-SUSPECT count, in a single pruned-column agg. Suspects
    // are ~always zero mid-generation (planned waves are URL-disjoint;
    // false positives at the design fill rate are ~1e-6), so the exact
    // seen-table confirm below is a rare path — the common-case wave
    // loop runs exactly one job before handing off to the async commit.
    val stats = narrow.agg(
      count(lit(1)),
      sum(when(!col("ok"), 1L).otherwise(0L)),
      sum(when(col("ok") && !col("render_match"), 1L).otherwise(0L)),
      sum(when(mightContainUdf(col("url_hash")), 1L).otherwise(0L))).head
    def longAt(i: Int): Long = if (stats.isNullAt(i)) 0L else stats.getLong(i)
    val nSuspects = longAt(3)

    // `excluded` = the slice's TRUE-seen url hashes: bloom suspects
    // confirmed against the exact seen table (bloom false positives +
    // pre-seeded/resumed-store repeats land here); every consumer
    // guards with a BROADCAST anti-join over the tiny set.
    //
    // At the 10^10 design point suspects occur EVERY wave (slice ×
    // FP rate), so the confirm must not cost O(seen): the seen scan is
    // pruned to the suspects' filter partitions (deltas are written
    // rebalanced by part and sorted by it in doCommit, so every file's
    // row groups hold part ranges and the isin prunes at row-group
    // level across every wave's delta), and
    // the tiny suspect side is broadcast so the seen table is only
    // SCANNED, never shuffled. A degraded filter (8-byte suspect hashes
    // beyond the session's autoBroadcastJoinThreshold; negative = never
    // broadcast, as for Spark's own joins) falls back to the shuffled
    // semi-join.
    val (nExcluded, excluded) =
      if (nSuspects == 0) (0L, null: DataFrame)
      else {
        val suspects = slice.select("url_hash")
          .where(mightContainUdf(col("url_hash")))
        val suspectParts = suspects
          .select(pmod(col("url_hash"), lit(P.toLong)).cast("int").as("part"))
          .distinct().as[Int].collect() // bounded by cfg.seenPartitions
        val seenSide = store.read("seen", v)
          .where(col("part").isin(suspectParts.map(Int.box): _*))
          .select("url_hash")
        // both orientations yield the same hash set: seen is distinct
        // (waves are URL-disjoint and repeats are excluded before their
        // delta is appended — CrawlSpec pins the invariant) and so is
        // the slice (plan-time dup states)
        val ex =
          (if (nSuspects * 8 <= spark.sessionState.conf.autoBroadcastJoinThreshold)
            seenSide.join(broadcast(suspects), Seq("url_hash"), "left_semi")
          else suspects.join(seenSide, Seq("url_hash"), "left_semi"))
            .cache()
        (ex.count(), ex)
      }
    def kept(df: DataFrame): DataFrame =
      if (nExcluded == 0) df
      else df.join(broadcast(excluded), Seq("url_hash"), "left_anti")

    // common path (nothing excluded): samples/errors join the snapshot
    // as METADATA-ONLY references to this wave's prefetch-scratch slice
    // (SnapshotTable.ViewRef) — zero Spark jobs, no second write of the
    // text bytes. Only an excluded-repeat wave (or a missing slice dir)
    // falls back to materialized delta writes.
    val outcomeCols = Seq("seq", "url", "host", "wave", "ok", "err",
      "text", "features", "render_match")
    val waveDirRel = s"scratch/$scratchName/wave=$wave"
    val refCommit = nExcluded == 0 &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(store.rootPath, waveDirRel))
    val samplesNew = kept(slice).drop("url_hash", "links", "text_len").where(col("ok"))
    val errorsNew = kept(slice).drop("url_hash", "links", "text_len").where(!col("ok"))

    // frontier DELTA: wave slice × excluded only — the full frontier
    // is never rescanned or rewritten per wave
    val frontierDelta = {
      val base =
        if (nExcluded == 0) narrow.withColumn("ex", lit(null).cast("boolean"))
        else narrow.join(broadcast(excluded.withColumn("ex", lit(true))), Seq("url_hash"), "left")
      base.select(col("seq"),
        when(col("ex").isNotNull, lit("skipped_seen"))
          .when(col("ok"), lit("done"))
          .otherwise(lit("error")).as("state"),
        col("wave"))
    }

    // rare path (repeats found): the manifest totals must count KEPT
    // rows only — re-run the tiny agg with the exclusion join
    val keptStats =
      if (nExcluded == 0) stats
      else kept(narrow).agg(
        count(lit(1)),
        sum(when(!col("ok"), 1L).otherwise(0L)),
        sum(when(col("ok") && !col("render_match"), 1L).otherwise(0L))).head
    def keptAt(i: Int): Long = if (keptStats.isNullAt(i)) 0L else keptStats.getLong(i)
    val nSel = keptAt(0); val nErr = keptAt(1); val nMismatch = keptAt(2)

    // seen DELTA (append) + incremental filter blob update: each touched
    // partition's filter is rebuilt DISTRIBUTED (copy of the broadcast
    // old blob + this wave's delta keys inserted in the executor);
    // untouched partitions keep their blob verbatim.
    val seenDelta = kept(narrow.select("url_hash"))
      .select(pmod(col("url_hash"), lit(P.toLong)).cast("int").as("part"), col("url_hash"))
    // the appended delta FILES are clustered by part and sorted by it:
    // the suspect-confirm above prunes its seen scan to the touched
    // parts' row groups across every wave's delta. A rebalance (not a
    // fixed P-way repartition) lets AQE size the file count to the
    // data — a few files for a small wave instead of P tiny ones, each
    // paying the per-file write cost. The (int, long) shuffle is
    // O(slice) and rides the async commit.
    def partClustered(df: DataFrame): DataFrame =
      df.hint("rebalance", col("part")).sortWithinPartitions("part")
    val bloomBits = cfg.bloomBitsPerPartition; val bloomHashes = cfg.bloomHashes
    val cuckooCap = cfg.cuckooCapacityPerPartition

    // per-partition × per-host lineage metrics (north_rule), aggregated
    // over the pruned narrow columns (text_len stands in for the text
    // column). Computed inside the (async) commit write — never a
    // synchronous wave job.
    val metricsNew = kept(narrow)
      .withColumn("part_id", spark_partition_id())
      .groupBy(col("wave"), col("part_id"), col("host"))
      .agg(
        count(lit(1)).as("urls"),
        sum(when(!col("ok"), 1L).otherwise(0L)).as("errors"),
        sum(when(col("ok") && !col("render_match"), 1L).otherwise(0L)).as("render_mismatches"),
        sum(when(col("ok"), col("text_len")).otherwise(0L)).as("text_bytes"))

    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global

    // commit — EVERYTHING below (blob rebuild, table writes, manifest
    // publish) rides the pipelined commit and overlaps the next wave's
    // compute; the publishes stay strictly ordered (each awaits its
    // predecessor). The next wave reading a not-yet-updated `blobState`
    // is sound: planned waves are URL-disjoint (see the guard comment).
    val parent = flush()
    // the crawl's final wave reconciles the frontier in its commit; the
    // last wave of a generation discovery may extend does not (see
    // mayGrow) — the crawl then reconciles once, at its end
    val isLast = wave == planMaxWave && !mayGrow

    def doCommit(): Int = {
      // The REBUILD base must be the PREDECESSOR COMMIT's blobs, not the
      // stale guard snapshot bound at the top of step(): the guard may
      // read stale blobs (planned waves are URL-disjoint), but a rebuild
      // from a pre-predecessor base would permanently drop the previous
      // wave's keys from every partition of the REPLACED seen_bloom
      // table — a future false NEGATIVE, the one unacceptable seen-set
      // error. doCommit always runs after flush(), so blobState here is
      // exactly the predecessor's merge result.
      val baseBlobs: Array[(Int, Array[Byte])] =
        if (blobState != null) blobState else blobs
      val rebuildBc =
        if (baseBlobs eq blobs) bloomBc
        else spark.sparkContext.broadcast(
          baseBlobs.map { case (p, b) =>
            p -> SeenFilter.deserialize(filterKind, b) }.toMap)
      val updatedBlobs =
        seenDelta.as[(Int, Long)]
          .groupByKey(_._1)
          .mapGroups { (p, it) =>
            val f = rebuildBc.value.get(p).map(_.copyOf).getOrElse(
              SeenFilter.fresh(filterKind, bloomBits, bloomHashes, cuckooCap))
            it.foreach(t => f.put(t._2))
            (p, f.serialize)
          }
          .collect()
      val touched = updatedBlobs.map(_._1).toSet
      val mergedBlobs = updatedBlobs ++
        baseBlobs.filter { case (p, _) => !touched.contains(p) }
      val blobsDf = spark.createDataset(mergedBlobs.toSeq).toDF("part", "blob")
      val replaceTables =
        if (!isLast) Map("seen_bloom" -> blobsDf)
        // final wave → reconcile the full frontier once (plan + deltas)
        else Map("seen_bloom" -> blobsDf, "frontier" -> reconciled(
          store.read("frontier_delta", parent).unionByName(frontierDelta)))
      // per-wave-append-table compaction: once the un-squashed tail
      // (incl. this wave's delta) reaches the cadence, fold each
      // table's tail + current delta into ONE dir instead of appending
      // dir #tail+1. `seen` (re-clustered — the hot confirm path),
      // `frontier_delta` (read whole at the crawl's reconcile)
      // and `metrics` squash together on one shared round counter:
      // after M squashes each table's dir list is exactly its M squash
      // outputs plus the raw tail, so keep=M holds for all three even
      // when a wave skipped a table's write. samples/errors stay out —
      // their volume lives in scratch ViewRefs by design (squash
      // refuses view-bearing tables). Reading the tails of `parent` is
      // safe here: doCommit runs after flush(), so the parent
      // manifest is published and its data dirs are immutable.
      val doSquash = cfg.compactSeenEvery > 0 &&
        seenTailDirs + 1 >= cfg.compactSeenEvery
      def tailPlus(table: String, delta: org.apache.spark.sql.DataFrame) =
        seenKeepDirs -> store.readTail(table, parent, seenKeepDirs).unionByName(delta)
      val squashMap: Map[String, (Int, org.apache.spark.sql.DataFrame)] =
        if (!doSquash) Map.empty
        else Map(
          "seen" -> (seenKeepDirs -> partClustered(
            store.readTail("seen", parent, seenKeepDirs).unionByName(seenDelta))),
          "frontier_delta" -> tailPlus("frontier_delta", frontierDelta),
          "metrics" -> tailPlus("metrics", metricsNew))
      val appendDf: Map[String, org.apache.spark.sql.DataFrame] = {
        val waveAppends: Map[String, org.apache.spark.sql.DataFrame] =
          if (doSquash) Map.empty
          else Map("seen" -> partClustered(seenDelta), "metrics" -> metricsNew,
            "frontier_delta" -> frontierDelta)
        if (refCommit) waveAppends
        else waveAppends ++ Map("samples" -> samplesNew, "errors" -> errorsNew)
      }
      val newKeepDirs = if (doSquash) seenKeepDirs + 1 else seenKeepDirs
      val refs =
        if (refCommit) Map(
          "samples" -> graft.store.SnapshotTable.ViewRef(
            s"scratch/$scratchName", Seq(waveDirRel), "ok", outcomeCols),
          "errors" -> graft.store.SnapshotTable.ViewRef(
            s"scratch/$scratchName", Seq(waveDirRel), "NOT ok", outcomeCols))
        else Map.empty[String, graft.store.SnapshotTable.ViewRef]
      val c = store.commit(
        replace = replaceTables,
        append = appendDf,
        appendRef = refs,
        squash = squashMap,
        metrics = Map("wave" -> wave.toLong, "selected" -> nSel,
          "gen_wave0" -> genWave0.toLong,
          "seen_keep_dirs" -> newKeepDirs.toLong,
          "errors" -> nErr, "render_mismatches" -> nMismatch,
          "max_wave" -> planMaxWave.toLong, "gen" -> generation.toLong,
          "reconciled" -> (if (isLast) 1L else 0L)),
        rowCounts = Map("samples" -> (nSel - nErr), "errors" -> nErr),
        expectedParent = Some(parent))
      // retention rides the same amortized cadence as compaction (plus
      // the final commit, so short crawls still end bounded): between
      // runs at most compactSeenEvery + expireKeep manifests exist, and
      // post-squash superseded dirs are reclaimed one cadence later.
      // Safe under pipelined commits: doCommit calls are strictly
      // ordered, and everything a later wave reads (parent manifest,
      // its tails, carried dirs) is within the kept window.
      if (cfg.expireKeep > 0 && (doSquash || isLast))
        store.expire(cfg.expireKeep, alwaysKeep = Set(1))
      blobState = mergedBlobs
      if (doSquash) { seenKeepDirs = newKeepDirs; seenTailDirs = 0 }
      else seenTailDirs += 1
      if (excluded != null) excluded.unpersist()
      c
    }

    nextWave += 1
    if (isLast) { doCommit(); cleanup() }
    else pending = Some(Future(doCommit()))
    true
  }

  /** Drive waves to drain; returns the final published version — the
    * latest, since the drain may end in a reconcile-only commit. A
    * driver that wants N waves calls [[step]] N times, then [[flush]]. */
  def runAll(seeds: DataFrame): Int = {
    init(seeds)
    while (step()) {}
    flush()
  }
}
