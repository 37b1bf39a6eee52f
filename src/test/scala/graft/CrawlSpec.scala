package graft

import graft.fixtures.Fixtures
import graft.frontier.Politeness
import graft.jobs.CrawlWave
import graft.store.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** End-to-end crawl-engine properties on the sf0.001 fixture space:
  * crawl order under politeness, URL-seen set, byte identity, resume
  * from snapshot, and partition-count invariance (SURVEY.md §5.2 #3/#4). */
class CrawlSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"
  // short wave period → multi-wave schedules even at sf0.001
  private def cfg(parts: Int) = CrawlWave.Config(wavePeriodMs = 3000L, partitions = parts)

  private def runCrawl(parts: Int): SnapshotTable = {
    val root = Files.createTempDirectory("crawl-").toString
    val store = new SnapshotTable(spark, root)
    val pages = Fixtures.pages(spark, dir).toDF.cache()
    new CrawlWave(spark, pages, store, cfg(parts)).runAll(Fixtures.seeds(spark, dir))
    pages.unpersist()
    store
  }

  private lazy val store = runCrawl(4)
  private lazy val frontier = store.readLatest("frontier").get.cache()

  /** Robots-allowed predicate over (host, url) — the live parser on the
    * deterministic fixture robots.txt. */
  private val robotsAllowedUdf = udf { (host: String, url: String) =>
    graft.frontier.Robots.parse(graft.frontier.Robots.synthTxt(host))
      .isAllowed(graft.frontier.Robots.pathOf(url))
  }

  /** Distinct fetchable URLs that robots.txt also allows. */
  private def expectedCrawled: Long = Fixtures.seeds(spark, dir)
    .where(expr(graft.jobs.Synth.fetchableWhere))
    .select("url").distinct()
    .withColumn("host", CrawlWave.crawlerDomainUdf(col("url")))
    .where(robotsAllowedUdf(col("host"), col("url")))
    .count()

  test("frontier drains: no ready rows; every fetchable allowed URL done or error") {
    assert(frontier.where(col("state") === "ready").count() == 0)
    assert(frontier.where(col("state") === "denied_robots").count() > 0)
    assert(frontier.where(col("state").isin("done", "error")).count() == expectedCrawled)
  }

  test("multi-wave schedule used (not a trivial single wave)") {
    assert(frontier.agg(max("wave")).head.getInt(0) >= 2)
  }

  test("engine wave assignment equals the static politeness window schedule") {
    val done = frontier.where(col("state").isin("done", "error"))
      .select("seq", "url", "host", "priority", "wave")
    val static = Politeness.schedule(
      done.select("seq", "url", "host", "priority"), 3000L)
      .select(col("seq").as("s2"), col("rel_wave"))
    val joined = done.join(static, col("seq") === col("s2"))
    assert(joined.where(col("wave") =!= col("rel_wave")).count() == 0)
  }

  test("per-host crawl order preserves (priority, seq) order across waves (§2.5)") {
    import spark.implicits._
    val bad = frontier.where(col("state").isin("done", "error"))
      .groupBy("host")
      .agg(collect_list(struct(col("wave"), col("priority"), col("seq"))).as("l"))
      .as[(String, Seq[(Int, Int, Long)])]
      .filter { case (_, l) =>
        val sorted = l.sortBy(x => (x._2, x._3)) // by (priority, seq)
        sorted.zip(sorted.tail).exists { case (a, b) => a._1 > b._1 } // wave monotone
      }
    assert(bad.count() == 0)
  }

  test("priority queue: within a host, high-priority URLs never crawl after lower") {
    import spark.implicits._
    // for each host: max wave of priority-0 rows <= min wave of priority-2
    // rows beyond the first wave's token grant (weak form: wave of any
    // p=0 row <= wave of any p=2 row with smaller seq never violated by
    // more than the shared-wave case handled by the monotone test above)
    val rows = frontier.where(col("state").isin("done", "error"))
      .select("host", "priority", "wave", "seq")
      .as[(String, Int, Int, Long)].collect()
    val byHost = rows.groupBy(_._1)
    val violations = byHost.values.flatMap { hs =>
      val p0max = hs.filter(_._2 == 0).map(_._3).maxOption
      val p2min = hs.filter(_._2 == 2).map(_._3).minOption
      for (a <- p0max; b <- p2min; if a > b) yield (a, b)
    }
    assert(violations.isEmpty)
  }

  test("URL-seen set equals the distinct allowed URL set; idempotent re-offer") {
    val seen = store.readLatest("seen").get
    val expected = expectedCrawled
    assert(seen.count() == expected)
    assert(seen.select("url_hash").distinct().count() == expected)
    // re-offering the whole seed list schedules nothing new
    val pages = Fixtures.pages(spark, dir).toDF
    val cw = new CrawlWave(spark, pages, store, cfg(4))
    assert(!cw.step())
  }

  test("all alive samples are byte-identical to the golden text column") {
    val samples = store.readLatest("samples").get
    assert(samples.count() > 0)
    assert(samples.where(!col("render_match")).count() == 0)
  }

  test("error channel carries drops, liveness kills and fetch misses") {
    import spark.implicits._
    val errs = store.readLatest("errors").get
      .select("err").as[String].collect().toSet
    assert(errs.exists(_.startsWith("skip this file")))  // S3 ext skip
    assert(errs.contains("skip this file(scheme)"))      // S2 ftp drop
    assert(errs.contains("duplicate url"))
    assert(errs.contains("fetch failed (no response)"))  // S4 miss
    assert(errs.exists(e => e == "404" || e == "503"))   // P3 status
    assert(errs.exists(_.startsWith("not web page")))    // P1 content-type
    assert(errs.exists(_.startsWith("page not found")))  // P2 title
    assert(errs.contains("robots.txt disallow"))         // robots deny
  }

  test("resume from an interrupted run converges to the identical final state") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-resume-").toString
    val st = new SnapshotTable(spark, root)
    val pages = Fixtures.pages(spark, dir).toDF.cache()
    // phase 1: init + 2 waves, then "crash"
    val cw1 = new CrawlWave(spark, pages, st, cfg(4))
    cw1.init(Fixtures.seeds(spark, dir))
    cw1.step(); cw1.step()
    // the second wave's commit is in flight until flush() publishes it
    val published = cw1.flush()
    assert(st.latestVersion.contains(published))
    assert(st.manifest(published).nonEmpty)
    // phase 2: a brand-new engine over the same store resumes
    val cw2 = new CrawlWave(spark, pages, st, cfg(4))
    cw2.runAll(Fixtures.seeds(spark, dir))
    pages.unpersist()
    def key(s: SnapshotTable) = s.readLatest("frontier").get
      .select("seq", "state", "wave").as[(Long, String, Int)].collect().toSet
    assert(key(st) == key(store))
    assert(st.readLatest("samples").get.count() ==
      store.readLatest("samples").get.count())
  }

  test("result is invariant under task parallelism (local partition count)") {
    import spark.implicits._
    val st2 = runCrawl(2)
    def waves(s: SnapshotTable) = s.readLatest("frontier").get
      .where(col("state").isin("done", "error"))
      .select("seq", "wave").as[(Long, Int)].collect().toSet
    assert(waves(st2) == waves(store))
  }

  test("pipelined commits: final bloom blobs answer every seen key") {
    import spark.implicits._
    // no-false-negative invariant over the PIPELINED blob chain: every
    // exactly-seen key must be answered by the final REPLACED seen_bloom
    // — a rebuild from a stale (pre-predecessor) base silently drops the
    // previous wave's keys from every partition
    val c = cfg(4)
    val blobMap = store.readLatest("seen_bloom").get
      .as[(Int, Array[Byte])].collect()
      .map { case (p, b) => p -> graft.frontier.SeenFilter.deserialize(c.seenFilter, b) }
      .toMap
    val missing = store.readLatest("seen").get.select("url_hash").as[Long].collect()
      .count { h =>
        val p = java.lang.Math.floorMod(h, c.seenPartitions.toLong).toInt
        !blobMap.get(p).exists(_.mightContain(h))
      }
    assert(missing == 0, s"$missing seen keys missing from the final bloom blobs")
  }

  test("pages with ingest-precomputed text_hash produce the identical crawl") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-prehash-").toString
    val st = new SnapshotTable(spark, root)
    // the fingerprint-at-ingest shape (the benchmark's inputs / a deployment
    // storing golden fingerprints, not golden text): same crawl, same
    // render_match verdicts, byte-identical samples
    val pages = Fixtures.pages(spark, dir).toDF
      .withColumn("text_hash", CrawlWave.textHashUdf(col("text")))
      .drop("text").cache()
    new CrawlWave(spark, pages, st, cfg(4)).runAll(Fixtures.seeds(spark, dir))
    pages.unpersist()
    def key(s: SnapshotTable) = s.readLatest("frontier").get
      .select("seq", "state", "wave").as[(Long, String, Int)].collect().toSet
    assert(key(st) == key(store))
    def samples(s: SnapshotTable) = s.readLatest("samples").get
      .select("url", "text", "render_match").as[(String, String, Boolean)]
      .collect().toSet
    assert(samples(st) == samples(store))
  }

  test("cuckoo seen-filter produces the identical crawl (bloom/cuckoo interchangeable)") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-cuckoo-").toString
    val st = new SnapshotTable(spark, root)
    val pages = Fixtures.pages(spark, dir).toDF.cache()
    new CrawlWave(spark, pages, st,
      cfg(4).copy(seenFilter = "cuckoo", cuckooCapacityPerPartition = 1 << 16))
      .runAll(Fixtures.seeds(spark, dir))
    pages.unpersist()
    def key(s: SnapshotTable) = s.readLatest("frontier").get
      .select("seq", "state", "wave").as[(Long, String, Int)].collect().toSet
    assert(key(st) == key(store))
    assert(st.readLatest("seen").get.count() == store.readLatest("seen").get.count())
  }

  test("saturated seen-filter: false positives are confirmed, never excluded") {
    import spark.implicits._
    // 2 partitions x 64 bits saturate after the first waves, so the
    // bloom answers true for ~every slice row and the exact confirm
    // (part-pruned scan + broadcast suspects) runs on EVERY later wave
    // — the design-point regime. It must find zero true repeats: the
    // crawl output is identical to the well-provisioned control run.
    val root = Files.createTempDirectory("crawl-satbloom-").toString
    val st = new SnapshotTable(spark, root)
    val pages = Fixtures.pages(spark, dir).toDF.cache()
    val c = cfg(4).copy(seenPartitions = 2, bloomBitsPerPartition = 64, bloomHashes = 2)
    new CrawlWave(spark, pages, st, c).runAll(Fixtures.seeds(spark, dir))
    pages.unpersist()
    // the scenario is real only if the filter actually saturated:
    // arbitrary absent keys must mostly answer "might contain"
    val filters = st.readLatest("seen_bloom").get.as[(Int, Array[Byte])].collect()
      .map { case (p, b) => p -> graft.frontier.SeenFilter.deserialize("bloom", b) }.toMap
    val hits = (1L to 1000L).count { i =>
      val h = i * -7046029254386353131L + 99991L
      filters.get(java.lang.Math.floorMod(h, 2L).toInt).exists(_.mightContain(h))
    }
    assert(hits > 500, s"filter not saturated: $hits/1000 probe positives")
    def key(s: SnapshotTable) = s.readLatest("frontier").get
      .select("seq", "state", "wave").as[(Long, String, Int)].collect().toSet
    assert(key(st) == key(store))
    def samples(s: SnapshotTable) = s.readLatest("samples").get
      .select("url", "text").as[(String, String)].collect().toSet
    assert(samples(st) == samples(store))
    assert(st.readLatest("seen").get.count() == store.readLatest("seen").get.count())
  }

  test("seen compaction: dir list squashed, crawl output and resume identical to control") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-compact-").toString
    val st = new SnapshotTable(spark, root)
    val pages = Fixtures.pages(spark, dir).toDF.cache()
    val c = cfg(4).copy(compactSeenEvery = 2)
    val v = new CrawlWave(spark, pages, st, c).runAll(Fixtures.seeds(spark, dir))
    // squash actually fired, and the dir list is strictly shorter than
    // the uncompacted one-dir-per-wave shape
    val waves = st.metricsOf(v).getOrElse("wave", 0L) + 1
    assert(waves >= 3)
    assert(st.metricsOf(v).getOrElse("seen_keep_dirs", 0L) >= 1)
    // all three per-wave append tables squash on the shared cadence
    for (t <- Seq("seen", "frontier_delta", "metrics"))
      assert(st.tableDirs(v)(t).length < waves, s"table $t not compacted")
    // identical frontier + seen content vs the uncompacted control run
    def key(s: SnapshotTable) = s.readLatest("frontier").get
      .select("seq", "state", "wave").as[(Long, String, Int)].collect().toSet
    assert(key(st) == key(store))
    assert(st.readLatest("seen").get.select("part", "url_hash").as[(Int, Long)]
      .collect().toSet ==
      store.readLatest("seen").get.select("part", "url_hash").as[(Int, Long)]
        .collect().toSet)
    // squashed lineage metrics carry the identical per-wave totals
    def waveTotals(s: SnapshotTable) = s.readLatest("metrics").get
      .groupBy("wave").agg(sum("urls").as("u"), sum("errors").as("e"))
      .as[(Int, Long, Long)].collect().toSet
    assert(waveTotals(st) == waveTotals(store))
    assert(st.readLatest("frontier_delta").get.count() ==
      store.readLatest("frontier_delta").get.count())
    // resume over the compacted store: plan drained, nothing recrawled
    assert(new CrawlWave(spark, pages, st, c).runAll(Fixtures.seeds(spark, dir)) == v)
    pages.unpersist()
  }

  test("snapshot expiration: store stays bounded, output and resume identical to control") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-expire-").toString
    val st = new SnapshotTable(spark, root)
    val pages = Fixtures.pages(spark, dir).toDF.cache()
    val c = cfg(4).copy(compactSeenEvery = 2, expireKeep = 2)
    val v = new CrawlWave(spark, pages, st, c).runAll(Fixtures.seeds(spark, dir))
    val waves = st.metricsOf(v).getOrElse("wave", 0L) + 1
    assert(waves >= 3)
    // retention fired on the final commit: manifests = keepLast + the
    // pinned init anchor, NOT one per wave
    val manifests = java.nio.file.Paths.get(root, "manifests")
    val listed = java.nio.file.Files.list(manifests)
    val mNames = try {
      import scala.jdk.CollectionConverters._
      listed.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("v\\d{5,}\\.json")).toSet
    } finally listed.close()
    assert(mNames.size <= c.expireKeep + 1, s"manifests not expired: $mNames")
    assert(mNames.contains("v00001.json")) // init anchor pinned
    // superseded per-wave seen_bloom replaces were reclaimed with them
    val blobDirs = java.nio.file.Paths.get(root, "data", "seen_bloom")
    val bl = java.nio.file.Files.list(blobDirs)
    val nBlobDirs = try { import scala.jdk.CollectionConverters._
      bl.iterator().asScala.size } finally bl.close()
    assert(nBlobDirs <= c.expireKeep, s"$nBlobDirs seen_bloom version dirs survive")
    // identical crawl result vs the unexpired control run
    def key(s: SnapshotTable) = s.readLatest("frontier").get
      .select("seq", "state", "wave").as[(Long, String, Int)].collect().toSet
    assert(key(st) == key(store))
    assert(st.readLatest("seen").get.count() == store.readLatest("seen").get.count())
    // resume over the expired store: layout guard reads the pinned init
    // manifest, plan drained, nothing recrawled
    assert(new CrawlWave(spark, pages, st, c).runAll(Fixtures.seeds(spark, dir)) == v)
    pages.unpersist()
  }

  test("pre-seeded seen store: repeats confirmed + excluded under both confirm strategies") {
    import spark.implicits._
    // a store whose seen table already holds some planned URLs (a
    // recrawl policy / externally merged history): those rows must end
    // skipped_seen with no sample, under BOTH the broadcast confirm
    // (default) and the shuffled fallback (autoBroadcastJoinThreshold
    // -1: no suspect set fits the broadcast budget)
    val pages = Fixtures.pages(spark, dir).toDF.cache()
    val pre = frontier.where(col("state") === "done")
      .select("url", "url_hash").orderBy("url").limit(5)
      .as[(String, Long)].collect()
    assert(pre.length == 5)
    val preUrls = pre.map(_._1).toSet
    def noBroadcast[T](body: => T): T = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      try body
      finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    def runPreSeeded(c: CrawlWave.Config): SnapshotTable = {
      val root = Files.createTempDirectory("crawl-preseen-").toString
      val st = new SnapshotTable(spark, root)
      val v1 = new CrawlWave(spark, pages, st, c).init(Fixtures.seeds(spark, dir))
      val delta = pre.toSeq.map { case (_, h) =>
        (java.lang.Math.floorMod(h, c.seenPartitions.toLong).toInt, h) }
      val blobs = delta.groupBy(_._1).toSeq.map { case (p, ks) =>
        val f = graft.frontier.SeenFilter.fresh(c.seenFilter,
          c.bloomBitsPerPartition, c.bloomHashes, c.cuckooCapacityPerPartition)
        ks.foreach(k => f.put(k._2)); (p, f.serialize)
      }
      st.commit(
        replace = Map("seen_bloom" -> spark.createDataset(blobs).toDF("part", "blob")),
        append = Map("seen" -> spark.createDataset(delta).toDF("part", "url_hash")),
        metrics = st.metricsOf(v1), // carry the plan cursor forward
        expectedParent = Some(v1))
      new CrawlWave(spark, pages, st, c).runAll(Fixtures.seeds(spark, dir))
      st
    }
    for (st <- Seq(runPreSeeded(cfg(4)), noBroadcast(runPreSeeded(cfg(4))),
        runPreSeeded(cfg(4).copy(compactSeenEvery = 2)))) {
      val skipped = st.readLatest("frontier").get
        .where(col("state") === "skipped_seen").select("url").as[String].collect().toSet
      assert(skipped == preUrls)
      val crawled = st.readLatest("samples").get.select("url").as[String].collect().toSet
      val ctrl = store.readLatest("samples").get.select("url").as[String].collect().toSet
      assert(crawled == ctrl -- preUrls)
      val seen = st.readLatest("seen").get
      assert(seen.count() == seen.select("url_hash").distinct().count())
      assert(seen.count() == store.readLatest("seen").get.count())
    }
    pages.unpersist()
  }

  test("resume refuses a latest manifest that lacks a cursor metric") {
    // the latest manifest alone locates the cursor; a missing metric
    // must fail naming version and key, not fall back to v1's value
    SparkTestBase.withTempDir("crawl-nocursor-") { root =>
      val st = new SnapshotTable(spark, root)
      val pages = Fixtures.pages(spark, dir).toDF
      val v1 = new CrawlWave(spark, pages, st, cfg(4)).init(Fixtures.seeds(spark, dir))
      val v2 = st.commit(metrics = st.metricsOf(v1) - "max_wave", expectedParent = Some(v1))
      val e = intercept[IllegalStateException](new CrawlWave(spark, pages, st, cfg(4)).step())
      assert(e.getMessage.contains(s"manifest v$v2 lacks the required metric 'max_wave'"))
    }
  }

  // ------------------------------------------------- politeness rank

  test("politeness schedule on a host-skewed frontier: token, rank and wave invariants") {
    import spark.implicits._
    // one hot host (70% of rows) + a 97-host tail, shuffled priority;
    // no crawl_delay_ms column, so each host's delay is the formula
    // (hot: 400 ms → 7 tokens per 3000 ms wave; tail: 10 or 15 tokens)
    val hot = "hot.example.com"
    val rows = (1L to 4000L).map { seq =>
      val host =
        if (seq % 10 < 7) hot
        else s"tail${(seq * 2654435761L) % 97}.example.com"
      (seq, host, (seq * 48271 % 5).toInt)
    }
    val hotN = rows.count(_._2 == hot).toLong
    val ready = rows.toDF("seq", "host", "priority")
    val sched = Politeness.schedule(ready, 3000L).cache()
    assert(sched.count() == rows.size)
    // rel_wave is the token-bucket fill, so no (host, rel_wave) group
    // exceeds the host's token budget
    val overfull = sched.groupBy("host", "tokens", "rel_wave").count()
      .where(col("count") > col("tokens")).count()
    assert(overfull == 0L)
    // per host, host_rank is a permutation of 1..k
    val badRank = sched.groupBy("host")
      .agg(count("*").as("k"), max("host_rank").as("mx"),
        min("host_rank").as("mn"), countDistinct("host_rank").as("d"))
      .where(col("mx") =!= col("k") || col("mn") =!= 1 || col("d") =!= col("k"))
      .count()
    assert(badRank == 0L)
    // the hot host spans exactly ceil(n / tokens) waves: throttled,
    // not emitted in one wave, and with no empty wave in between
    val h = sched.where(col("host") === hot)
      .agg(countDistinct("rel_wave"), max("rel_wave").cast("long"), max("tokens"))
      .head()
    val tokens = h.getLong(2)
    assert(tokens == 7L)
    val waves = (hotN + tokens - 1) / tokens
    assert(h.getLong(0) == waves && h.getLong(1) == waves - 1,
      s"hot waves=${h.getLong(0)} max=${h.getLong(1)} want $waves")
    sched.unpersist()
  }

  test("politeness: crawl-delay 0 grants the full wave of tokens, no div-by-zero") {
    import spark.implicits._
    val ready = Seq((1L, "z.example", 0), (2L, "z.example", 0), (3L, "z.example", 0))
      .toDF("seq", "host", "priority")
      .withColumn("crawl_delay_ms", lit(0L))
    // ANSI-mode Spark 4 would abort the job on 1000/0 without the clamp
    val sched = Politeness.schedule(ready, wavePeriodMs = 1000L)
      .select("seq", "tokens", "rel_wave").as[(Long, Long, Int)].collect()
    assert(sched.forall(_._2 == 1000L), s"tokens=${sched.map(_._2).toSeq}")
    assert(sched.forall(_._3 == 0)) // all three fit the first wave
  }

  // ------------------------------------------------- frontier growth

  import graft.fixtures.NetSynth
  import graft.urls.Canonicalize

  private def runDiscoverCrawl(pagesDf: org.apache.spark.sql.DataFrame,
      maxGenerations: Int = 3): SnapshotTable = {
    val root = Files.createTempDirectory("crawl-disc-").toString
    val st = new SnapshotTable(spark, root)
    val pages = pagesDf.cache()
    new CrawlWave(spark, pages, st,
      cfg(4).copy(discover = true, maxGenerations = maxGenerations))
      .runAll(Fixtures.seeds(spark, dir))
    pages.unpersist()
    st
  }

  private lazy val discStore = runDiscoverCrawl(Fixtures.pages(spark, dir).toDF)

  /** Independent replica of the md5-portable outlink rules — computed
    * from NetSynth.link* directly, NOT through the body builder or
    * TagScanner (the engine's actual extraction path). */
  private lazy val expectedDiscovered: Vector[String] = {
    import spark.implicits._
    val seedUrls = Fixtures.seeds(spark, dir)
      .select("url").distinct().as[String].collect().toSet
    val pageUrls = Fixtures.seeds(spark, dir)
      .where(expr(graft.jobs.Synth.fetchableWhere))
      .select("url").distinct().as[String].collect()
      .filterNot(NetSynth.isFetchMiss)
      // robots-denied seeds are never fetched → their outlinks never
      // discovered (same rule as NetSynth's synthesized robots.txt)
      .filterNot { u =>
        val host = Canonicalize.crawlerDomain(u)
        val p = u.indexOf("/p/")
        host.length % 3 == 0 && p >= 0 && p + 3 < u.length && u.charAt(p + 3) == '3'
      }
    pageUrls.flatMap { u =>
      val domain = Canonicalize.crawlerDomain(u)
      (0 until (2 + NetSynth.linkCount(u))).flatMap { i =>
        NetSynth.linkKind(u, i) match {
          case 0 => Some(s"http://$domain/page$i.html")
          case 1 => Some(s"http://ext${NetSynth.linkExt(u, i)}.example.org/x$i")
          case _ => None
        }
      }
    }.distinct.filterNot(seedUrls).sorted.toVector
  }

  test("discovery: generation 1 contains exactly the new outlinks, seq in url order") {
    import spark.implicits._
    val maxSeed = Fixtures.seeds(spark, dir).agg(max("seq")).head.getLong(0)
    val gen1 = discStore.readLatest("frontier").get
      .where(col("seq") > maxSeed)
      .select("seq", "url", "state", "wave")
      .as[(Long, String, String, Int)].collect().sortBy(_._1)
    assert(gen1.nonEmpty)
    assert(gen1.map(_._2).toVector == expectedDiscovered) // set + order
    assert(gen1.map(_._1).toVector == // consecutive seqs from maxSeed+1
      (maxSeed + 1 to maxSeed + gen1.length).toVector)
    // none of the discovered URLs exists in the pages table → all error
    assert(gen1.forall(_._3 == "error"))
    // all scheduled strictly after the seed generation's waves
    val maxSeedWave = discStore.readLatest("frontier").get
      .where(col("seq") <= maxSeed).agg(max("wave")).head.getInt(0)
    assert(gen1.forall(_._4 > maxSeedWave))
    // the error channel carries their fetch misses
    val errUrls = discStore.readLatest("errors").get
      .where(col("seq") > maxSeed).select("url").as[String].collect().toSet
    assert(errUrls == expectedDiscovered.toSet)
  }

  test("discovery: gen-1 prefetch scratch holds ONLY gen-1 waves (no re-fetch of gen 0)") {
    import spark.implicits._
    // prior generations stay state='ready' in the frontier table until
    // the final reconcile, so an unbounded ready-filter would re-fetch
    // and re-extract all of generation 0 into this dataset
    val maxSeed = Fixtures.seeds(spark, dir).agg(max("seq")).head.getLong(0)
    val maxSeedWave = discStore.readLatest("frontier").get
      .where(col("seq") <= maxSeed).agg(max("wave")).head.getInt(0)
    val g1 = spark.read.parquet(discStore.scratchPath("prefetch_g1"))
    assert(g1.count() == expectedDiscovered.length) // exactly the new outlinks
    assert(g1.agg(min("wave")).head.getInt(0) > maxSeedWave)
    // and generation 0's scratch stayed within its own waves
    val g0 = spark.read.parquet(discStore.scratchPath("prefetch"))
    assert(g0.agg(max("wave")).head.getInt(0) <= maxSeedWave)
  }

  test("discovery: seen set grows by the discovered URLs; gen-2 finds nothing new") {
    // every discovered URL was attempted → entered the seen set
    assert(discStore.readLatest("seen").get.count() ==
      store.readLatest("seen").get.count() + expectedDiscovered.length)
    // discovered pages are all fetch misses → no gen-2 plan was committed
    assert(discStore.metricsOf(discStore.latestVersion.get)
      .getOrElse("gen", -1L) == 1L)
  }

  /** Versions after v1 whose commit REPLACED the frontier (its dir list
    * is exactly the dir the commit wrote) — the full O(frontier) writes. */
  private def frontierRewrites(s: SnapshotTable): Seq[Int] =
    (2 to s.latestVersion.get).filter(v =>
      s.tableDirs(v)("frontier") == Seq(f"data/frontier/v$v%05d"))

  test("discovery: the full frontier is rewritten exactly once per crawl") {
    // two generations, but generation 0's last wave commits only deltas:
    // the single rewrite is the crawl's final reconcile
    assert(frontierRewrites(discStore) == Seq(discStore.latestVersion.get))
  }

  test("discovery: an empty next generation ends in one reconcile-only commit; rerun adds none") {
    val latest = discStore.latestVersion.get
    val cursor = Set("wave", "max_wave", "gen", "gen_wave0", "seen_keep_dirs", "reconciled")
    val reconcileOnly = (1 to latest).filter(v => discStore.metricsOf(v).keySet == cursor)
    assert(reconcileOnly == Seq(latest))
    val m = discStore.metricsOf(latest)
    assert(m("reconciled") == 1L && m("gen") == 1L)
    // the commit before it is generation 1's last wave, unreconciled
    assert(discStore.metricsOf(latest - 1).get("reconciled").contains(0L))
    assert(discStore.metricsOf(latest - 1)("wave") == m("wave"))
    // rerun over the finished store: drained, reconciled — no new
    // version, and decided from the manifest alone: discovery does not
    // run again, so the rerun starts no Spark job
    val pages = Fixtures.pages(spark, dir).toDF
    val seeds = Fixtures.seeds(spark, dir)
    val sc = spark.sparkContext
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }
    val rerun = inGroup("reconcile-only-rerun") {
      new CrawlWave(spark, pages, discStore,
        cfg(4).copy(discover = true, maxGenerations = 3)).runAll(seeds)
    }
    // a one-job sentinel after it: the status listener sees jobs in start
    // order, so once the sentinel is listed every rerun job is too
    inGroup("reconcile-only-sentinel")(sc.parallelize(Seq(0), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup("reconcile-only-sentinel").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(sc.statusTracker.getJobIdsForGroup("reconcile-only-sentinel").nonEmpty)
    val jobs = sc.statusTracker.getJobIdsForGroup("reconcile-only-rerun")
    assert(rerun == latest)
    assert(discStore.latestVersion.contains(latest))
    assert(jobs.isEmpty, s"the rerun started ${jobs.length} Spark jobs")
  }

  test("seen deltas: fewer files than seen partitions, each sorted by part") {
    import spark.implicits._
    val v = store.latestVersion.get
    val seenDirs = store.tableDirs(v)("seen")
    assert(seenDirs.length >= 2) // one delta per wave, no squash
    for (d <- seenDirs) {
      val files = {
        val ls = Files.list(java.nio.file.Paths.get(store.rootPath, d))
        try { import scala.jdk.CollectionConverters._
          ls.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toVector }
        finally ls.close()
      }
      assert(files.nonEmpty && files.length < CrawlWave.Config().seenPartitions,
        s"$d holds ${files.length} files")
      for (f <- files) {
        val parts = spark.read.parquet(f).select("part").as[Int].collect().toSeq
        assert(parts == parts.sorted, s"$f not sorted by part")
      }
    }
  }

  test("discovery over an all-dropped seed set drains cleanly (empty prefetch read-back)") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-empty-").toString
    val st = new SnapshotTable(spark, root)
    val pages = Fixtures.pages(spark, dir).toDF
    // every seed is dropped at plan time: no ready rows, max_wave = -1,
    // and the discover branch still tries to plan generation 1 over the
    // (zero-file) prefetch scratch — must drain, not crash on inference
    val seeds = Seq((0L, "http://a.example.com/pic.jpg"),
                    (1L, "ftp://b.example.com/file.txt")).toDF("seq", "url")
    val v = new CrawlWave(spark, pages, st, cfg(4).copy(discover = true)).runAll(seeds)
    val f = st.read("frontier", v)
    assert(f.count() == 2)
    assert(f.where(col("state").startsWith("dropped")).count() == 2)
  }

  test("kitchen sink: every scale feature at once equals the plain discovery run") {
    import spark.implicits._
    // discovery + compaction + expiration + cuckoo seen-filter TOGETHER:
    // the interactions (expire at each generation's reconcile, squash
    // under pipelining, cuckoo blob rebuilds across async commits) are
    // where independent features would break each other
    val root = Files.createTempDirectory("crawl-sink-").toString
    val st = new SnapshotTable(spark, root)
    val pages = Fixtures.pages(spark, dir).toDF.cache()
    val c = cfg(4).copy(discover = true, maxGenerations = 3,
      compactSeenEvery = 2, expireKeep = 2,
      seenFilter = "cuckoo")
    val v = new CrawlWave(spark, pages, st, c).runAll(Fixtures.seeds(spark, dir))
    def key(s: SnapshotTable) = s.readLatest("frontier").get
      .select("seq", "url", "state", "wave")
      .as[(Long, String, String, Int)].collect().toSet
    assert(key(st) == key(discStore))
    def samples(s: SnapshotTable) = s.readLatest("samples").get
      .select("url", "text").as[(String, String)].collect().toSet
    assert(samples(st) == samples(discStore))
    assert(st.readLatest("seen").get.count() == discStore.readLatest("seen").get.count())
    // retention fired through the discovery generations: bounded store
    val manifests = java.nio.file.Paths.get(root, "manifests")
    val ms = java.nio.file.Files.list(manifests)
    val nManifests = try { import scala.jdk.CollectionConverters._
      ms.iterator().asScala.count(_.getFileName.toString.matches("v\\d{5,}\\.json"))
    } finally ms.close()
    assert(nManifests <= c.expireKeep + 1, s"$nManifests manifests survive")
    // resume over the expired+compacted cuckoo store: drained, no recrawl
    assert(new CrawlWave(spark, pages, st, c).runAll(Fixtures.seeds(spark, dir)) == v)
    pages.unpersist()
  }

  test("discovery: resume mid-generation-1 converges to the identical final state") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl-disc-resume-").toString
    val st = new SnapshotTable(spark, root)
    val pages = Fixtures.pages(spark, dir).toDF.cache()
    val c = cfg(4).copy(discover = true, maxGenerations = 3)
    // run the seed generation + a few waves of generation 1, then "crash"
    val cw1 = new CrawlWave(spark, pages, st, c)
    cw1.init(Fixtures.seeds(spark, dir))
    var steps = 0
    val seedMaxWave = st.metricsOf(1).getOrElse("max_wave", -1L).toInt
    while (steps < seedMaxWave + 1 + 2 && cw1.step()) steps += 1
    cw1.flush()
    // a FRESH engine over the same store finishes the crawl
    new CrawlWave(spark, pages, st, c).runAll(Fixtures.seeds(spark, dir))
    pages.unpersist()
    def key(s: SnapshotTable) = s.readLatest("frontier").get
      .select("seq", "url", "state", "wave")
      .as[(Long, String, String, Int)].collect().toSet
    assert(key(st) == key(discStore))
    assert(st.readLatest("samples").get.count() ==
      discStore.readLatest("samples").get.count())
  }

  test("discovery: fetchable outlinks crawl as generation 1 with byte identity; gen 2 runs") {
    import spark.implicits._
    // a pages table that ALSO contains the discovered URLs' pages, so
    // generation 1 has real fetch hits and generation 2 gets planned
    // from generation-1 bodies
    val gen1Pages = spark.createDataset(expectedDiscovered)
      .flatMap(u => Fixtures.pageFor(u)).toDF
    val st = runDiscoverCrawl(Fixtures.pages(spark, dir).toDF.unionByName(gen1Pages))
    val maxSeed = Fixtures.seeds(spark, dir).agg(max("seq")).head.getLong(0)
    val gen1 = st.readLatest("frontier").get.where(col("seq") > maxSeed).cache()
    // discovered URLs absent from pageFor (fetch-miss rule) still error;
    // the rest were fetched — some alive (done), byte-identical
    val done = gen1.where(col("state") === "done").count()
    assert(done > 0)
    assert(st.readLatest("samples").get.where(!col("render_match")).count() == 0)
    // generation-1 bodies discovered fresh URLs → a generation 2 exists
    assert(st.metricsOf(st.latestVersion.get).getOrElse("gen", -1L) >= 2L)
    gen1.unpersist()
  }

  // ---- S8: FTP fetch (cfg.fetchFtp, spider.py:103-161) ----------------

  private lazy val ftpStore: SnapshotTable = {
    val root = Files.createTempDirectory("crawl-ftp-").toString
    val st = new SnapshotTable(spark, root)
    val pages = Fixtures.pages(spark, dir, includeFtp = true).toDF.cache()
    new CrawlWave(spark, pages, st, cfg(4).copy(fetchFtp = true))
      .runAll(Fixtures.seeds(spark, dir))
    pages.unpersist()
    st
  }

  test("S8: ftp URLs fetch when fetchFtp is on; byte-identical FTP render; ext skip is http-only") {
    val f = ftpStore.readLatest("frontier").get.where(col("url").startsWith("ftp:")).cache()
    assert(f.count() > 0)
    assert(f.where(col("state").isin("dropped_scheme", "dropped_ext")).count() == 0)
    // the reference's image-extension skip lives inside its http branch:
    // ftp://…/x.jpg IS fetched (ends done or error, never dropped)
    val ftpImg = f.where(lower(col("url")).endsWith(".jpg"))
    assert(ftpImg.count() > 0)
    assert(ftpImg.where(!col("state").isin("done", "error", "denied_robots")).count() == 0)
    val samples = ftpStore.readLatest("samples").get
      .where(col("url").startsWith("ftp:")).cache()
    assert(samples.count() > 0)
    // engine re-render matches the golden FTP text byte-for-byte
    assert(samples.where(!col("render_match")).count() == 0)
    // FTP sample shape: NSLOOKUP/HOST/WHOIS + content + TIMER, no
    // HEADER/CYCLING blocks (DownloadFTPFile writes none)
    val one = samples.select("text").head.getString(0)
    assert(!one.contains("<=HEADER BEGIN=>"))
    assert(!one.contains("<=CYCLING"))
    assert(one.contains("<=WHOIS BEGIN=>") && one.contains("<=HTTP BEGIN=>")
      && one.contains("<=TIMER BEGIN=>"))
    // http behavior is unchanged by the flag: same done count as the
    // default crawl's http side
    val httpDone = ftpStore.readLatest("frontier").get
      .where(!col("url").startsWith("ftp:") && col("state") === "done").count()
    assert(httpDone == frontier.where(col("state") === "done").count())
    samples.unpersist(); f.unpersist()
  }

  test("S8: with fetchFtp off (default) ftp URLs stay dropped_scheme") {
    val ftpRows = frontier.where(col("url").startsWith("ftp:"))
    assert(ftpRows.count() > 0)
    assert(ftpRows.where(col("state") =!= "dropped_scheme").count() == 0)
  }

  test("S8: uppercase FTP scheme routes through the FTP pipeline end-to-end") {
    import spark.implicits._
    // engine dispatch, fixture golden and ftpWhere must agree on
    // case-insensitive schemes — a case-sensitive fetchOutcome would
    // push this URL through the HTTP decode/liveness/render path
    val url = (1 to 50).map(i => s"FTP://h$i.example.com/p/$i")
      .find(u => !NetSynth.isFetchMiss(u)).get
    val pages = Seq(graft.fixtures.Fixtures.pageFor(url).get).toDS.toDF
    val seeds = Seq((1L, url)).toDF("seq", "url")
    val root = Files.createTempDirectory("crawl-ftpuc-").toString
    val st = new SnapshotTable(spark, root)
    new CrawlWave(spark, pages, st, cfg(4).copy(fetchFtp = true)).runAll(seeds)
    val rows = st.readLatest("samples").get
      .select("url", "text", "render_match").collect()
    assert(rows.length == 1 && rows(0).getString(0) == url)
    assert(rows(0).getBoolean(2), "render must match the FTP golden byte-for-byte")
    val text = rows(0).getString(1)
    assert(!text.contains("<=HEADER BEGIN=>") && text.contains("<=TIMER BEGIN=>"))
  }

  test("S2/S3: dispatch tests url.lower() with DOTLESS suffixes (spider.py:526-535)") {
    import spark.implicits._
    val seeds = Seq(
      (1L, "HTTP://h.example.com/x"),      // mixed-case scheme fetches
      (2L, "http://h.example.com/calico"), // dotless endswith('ico') skips
      (3L, "http://h.example.com/f.JPG"),  // case-insensitive ext skips
      (4L, "FTP://h.example.com/a"),       // mixed-case ftp scheme
      (5L, "mailto:a@b.c"),                // non-http(s)/ftp drops
      (6L, "http://h.example.com/ok")
    ).toDF("seq", "url")
    val st = CrawlWave.initFrontier(seeds, fetchFtp = true)
      .select("url", "state").as[(String, String)].collect().toMap
    assert(st("HTTP://h.example.com/x") == "ready")
    assert(st("http://h.example.com/calico") == "dropped_ext")
    assert(st("http://h.example.com/f.JPG") == "dropped_ext")
    assert(st("FTP://h.example.com/a") == "ready")
    assert(st("mailto:a@b.c") == "dropped_scheme")
    assert(st("http://h.example.com/ok") == "ready")
    // fetchFtp off: the mixed-case ftp row drops on scheme
    val off = CrawlWave.initFrontier(seeds)
      .select("url", "state").as[(String, String)].collect().toMap
    assert(off("FTP://h.example.com/a") == "dropped_scheme")
  }

  test("init refuses null or duplicate seq in caller seeds (frontier row identity)") {
    import spark.implicits._
    val pages = Fixtures.pages(spark, dir).toDF
    def engine() = new CrawlWave(spark, pages,
      new SnapshotTable(spark, Files.createTempDirectory("crawl-seq-").toString), cfg(4))
    val dup = Seq((1L, "http://a.example.com/x"), (1L, "http://b.example.com/y"))
      .toDF("seq", "url")
    val eDup = intercept[IllegalArgumentException](engine().init(dup))
    assert(eDup.getMessage.contains("duplicate seq"))
    val nul = Seq((Some(1L), "http://a.example.com/x"), (None, "http://b.example.com/y"))
      .toDF("seq", "url")
    val eNull = intercept[IllegalArgumentException](engine().init(nul))
    assert(eNull.getMessage.contains("null seq"))
    // the guard rides the existing init stats action: a well-formed seed
    // set still initializes (and the duplicate-URL path is untouched)
    val ok = Seq((1L, "http://a.example.com/x"), (2L, "http://a.example.com/x"))
      .toDF("seq", "url")
    assert(engine().init(ok) == 1)
  }

  test("random-seed fuzz: an independent greedy simulator equals the engine frontier") {
    import spark.implicits._
    // Model-based differential test over RANDOM seed lists (deterministic
    // seed): the model re-derives every per-seed final (state, wave) with
    // an explicit greedy wave loop — process each host's allowed rows in
    // (priority, seq) order, granting tokens(h) fetches per wave — and
    // plain sequential code for the drop/dup/robots legs, then the engine
    // must agree row-for-row. This is INDEPENDENT of the engine's
    // window/join formulation (same reference semantics, different
    // algorithm); the per-URL fetch outcome legs reuse the pure
    // `fetchOutcome` (pinned byte-identical elsewhere) because the
    // target here is ORCHESTRATION: drop/dup/deny interaction, wave
    // assignment, miss handling on inputs the fixture space never
    // produces (junk hosts, scheme/ext edge mixes, dup bursts).
    val rnd = new scala.util.Random(20260820L)
    val pagesDf = Fixtures.pages(spark, dir).toDF.cache()
    val pageMap: Map[String, graft.model.PageRow] =
      Fixtures.pages(spark, dir).collect().map(p => p.url -> p).toMap
    val base = Fixtures.seeds(spark, dir).select("url").distinct().as[String].collect()
    val wavePeriod = 3000L

    def simulate(rows: Seq[(Long, String, Int)],
        fetchFtp: Boolean = false): Map[Long, (String, Int)] = {
      val out = scala.collection.mutable.Map[Long, (String, Int)]()
      val seenUrls = scala.collection.mutable.Set[String]()
      val sched = scala.collection.mutable.ArrayBuffer[(Long, String, Int, String)]()
      for ((seq, url, pri) <- rows.sortBy(_._1)) {
        val lower = url.toLowerCase
        val isFtp = fetchFtp && lower.startsWith("ftp:")
        // the image-ext skip is http-only (spider.py:526-535 quirk)
        val extSkip = !isFtp &&
          Seq("ico", "jpg", "png", "pdf", "bmp", "tiff").exists(lower.endsWith)
        if (!lower.startsWith("http") && !isFtp) out(seq) = ("dropped_scheme", -1)
        else if (extSkip) out(seq) = ("dropped_ext", -1)
        else if (seenUrls.contains(url)) out(seq) = ("dup", -1)
        else {
          seenUrls += url
          val host = graft.urls.Canonicalize.crawlerDomain(url)
          val rules = graft.frontier.Robots.parse(graft.frontier.Robots.synthTxt(host))
          if (!rules.isAllowed(graft.frontier.Robots.pathOf(url)))
            out(seq) = ("denied_robots", -1)
          else sched += ((seq, url, pri, host))
        }
      }
      // greedy per-host wave grant
      for ((host, hs) <- sched.groupBy(_._4)) {
        val delay = graft.frontier.Robots.parse(graft.frontier.Robots.synthTxt(host))
          .crawlDelayMs.getOrElse(Politeness.delayMs(host))
        val tokens = math.max(1L, wavePeriod / math.max(1L, delay))
        var wave = 0; var grantedThisWave = 0L
        for ((seq, url, _, _) <- hs.sortBy(r => (r._3, r._1))) {
          if (grantedThisWave == tokens) { wave += 1; grantedThisWave = 0 }
          grantedThisWave += 1
          val ok = pageMap.get(url).exists { p =>
            CrawlWave.fetchOutcome(CrawlWave.FetchRow(seq, url, host, wave,
              0L, Some(p.warc_ts), Some(p.html),
              Option(p.text).map(CrawlWave.hashText))).ok
          }
          out(seq) = (if (ok) "done" else "error", wave)
        }
      }
      out.toMap
    }

    // trial 3 runs the scale-feature config (cuckoo seen-filter,
    // compaction) — neither may change semantics, so the same model
    // must still agree;
    // trial 4 turns the S8 FTP branch on (ftp rows schedule and fetch,
    // the image-ext skip stays http-only)
    def genRows(n: Int): Seq[(Long, String, Int)] = (1 to n).map { i =>
      val r = rnd.nextInt(10)
      val url =
        if (r < 6) base(rnd.nextInt(base.length))
        else if (r == 6) s"http://fuzz${rnd.nextInt(4)}.example.net/p/${rnd.nextInt(40)}" // miss
        else if (r == 7) s"ftp://drop${rnd.nextInt(4)}.example.net/f${rnd.nextInt(9)}"    // scheme
        else if (r == 8) s"http://img${rnd.nextInt(4)}.example.net/i${rnd.nextInt(9)}.PNG" // ext
        else base(rnd.nextInt(base.length)) // extra dup pressure
      (i.toLong, url, rnd.nextInt(3))
    }

    def assertMatchesModel(trial: String, st: SnapshotTable,
        rows: Seq[(Long, String, Int)], fetchFtp: Boolean): Unit = {
      val got = st.readLatest("frontier").get
        .select("seq", "state", "wave").as[(Long, String, Int)]
        .collect().map(r => r._1 -> (r._2, r._3)).toMap
      val want = simulate(rows, fetchFtp = fetchFtp)
      val diff = (got.keySet ++ want.keySet)
        .filter(k => got.get(k) != want.get(k)).toSeq.sorted
      assert(diff.isEmpty,
        s"trial $trial: ${diff.size} rows diverge, e.g. " +
          diff.take(5).map(k => s"seq=$k got=${got.get(k)} want=${want.get(k)}").mkString("; "))
    }

    val configs = Seq(cfg(4), cfg(4),
      cfg(4).copy(seenFilter = "cuckoo", compactSeenEvery = 2),
      cfg(4).copy(fetchFtp = true))
    for ((trialCfg, trial0) <- configs.zipWithIndex) {
      val trial = trial0 + 1
      val rows = genRows(250)
      val seeds = rows.toDF("seq", "url", "priority")
      val root = Files.createTempDirectory(s"crawl-fuzz-$trial-").toString
      val st = new SnapshotTable(spark, root)
      new CrawlWave(spark, pagesDf, st, trialCfg).runAll(seeds)
      assertMatchesModel(trial.toString, st, rows, trialCfg.fetchFtp)
      assert(st.verify().isEmpty, s"trial $trial fsck: ${st.verify().mkString("; ")}")
    }

    // trial 5: retention + compaction ACTIVE (expireKeep > 0,
    // compactSeenEvery small) with a crash INSIDE the first
    // squash-bearing commit — squash output dirs written, manifest
    // unpublished (deleted), version hint pointing at the lost version.
    // The resumed engine must converge to the same model state, and the
    // store must fsck clean afterwards. This crosses the one
    // maintenance interleaving the single-feature trials don't: a
    // squash round lost mid-publish while expiration has already been
    // deleting superseded history.
    {
      val trialCfg = cfg(4).copy(compactSeenEvery = 2, expireKeep = 1)
      val rows = genRows(250)
      val seeds = rows.toDF("seq", "url", "priority")
      val root = Files.createTempDirectory("crawl-fuzz-5-").toString
      val st = new SnapshotTable(spark, root)
      val cw = new CrawlWave(spark, pagesDf, st, trialCfg)
      cw.init(seeds)
      var crashed = false
      var prevKeep = 0L
      while (!crashed && cw.step()) {
        val v = cw.flush()
        val keep = st.metricsOf(v).getOrElse("seen_keep_dirs", 0L)
        if (keep > prevKeep) { // this commit squashed: lose its publish
          Files.delete(java.nio.file.Paths.get(root, "manifests", f"v$v%05d.json"))
          crashed = true
        } else prevKeep = keep
      }
      assert(crashed, "trial 5 never reached a squash commit — shrink compactSeenEvery")
      new CrawlWave(spark, pagesDf, st, trialCfg).runAll(seeds)
      assertMatchesModel("5 (mid-squash crash + expire)", st, rows, fetchFtp = false)
      val fsck = st.verify()
      assert(fsck.isEmpty, s"trial 5 fsck: ${fsck.mkString("; ")}")
    }
    pagesDf.unpersist()
  }

  // ---- crash-point sweep -------------------------------------------------
  // The single-point resume tests above pin specific interruption spots;
  // these sweep EVERY commit boundary (and, at alternate points, a crash
  // INSIDE the commit — data dirs written, manifest unpublished, version
  // hint stale) under the maintenance features that rewrite store state
  // (discovery re-plans, seen/metrics/frontier_delta compaction, snapshot
  // expiration), asserting the resumed crawl converges to the identical
  // final state from every one of them. This is the engine-level analogue
  // of SnapshotSpec's store-op interleaving fuzz: the north-rule resume
  // contract says a crash at ANY point loses nothing.

  /** Config for the sweep: discovery + compaction + expiration active
    * (the sweep flushes after every step, so each crash boundary is a
    * published commit). The wave period is
    * doubled vs `cfg` — the sweep's cost is quadratic in the step count
    * (k steps to reach crash point k, then the resume run finishes the
    * remaining K-k), and multi-wave + multi-generation coverage survives
    * the halving. */
  private def sweepCfg = cfg(4).copy(wavePeriodMs = 6000L, discover = true,
    maxGenerations = 2, compactSeenEvery = 2, expireKeep = 2)

  private def crawlState(s: SnapshotTable) = {
    import spark.implicits._
    val frontier = s.readLatest("frontier").get
      .select("seq", "url", "state", "wave")
      .as[(Long, String, String, Int)].collect().toSet
    val samples = s.readLatest("samples").get
      .select("url", "text", "render_match")
      .as[(String, String, Boolean)].collect().toSet
    val seen = s.readLatest("seen").get
      .select("url_hash").as[Long].collect().toSet
    (frontier, samples, seen)
  }

  test("crash-point sweep: resume from every boundary (and unpublished commits) matches the control") {
    val pages = Fixtures.pages(spark, dir).toDF.cache()
    val seeds = Fixtures.seeds(spark, dir)

    // control: uninterrupted run under the sweep config
    val ctrlRoot = Files.createTempDirectory("crawl-sweep-ctrl-").toString
    val ctrl = new SnapshotTable(spark, ctrlRoot)
    new CrawlWave(spark, pages, ctrl, sweepCfg).runAll(seeds)
    val want = crawlState(ctrl)

    // total step count K (deterministic: same fixtures, same config)
    val probeRoot = Files.createTempDirectory("crawl-sweep-probe-").toString
    val probe = new CrawlWave(spark, pages, new SnapshotTable(spark, probeRoot), sweepCfg)
    probe.init(seeds)
    var totalSteps = 0
    while (probe.step()) totalSteps += 1
    assert(totalSteps >= 4, s"sweep needs a multi-wave crawl, got $totalSteps steps")

    for (k <- 1 until totalSteps) {
      val root = Files.createTempDirectory(s"crawl-sweep-$k-").toString
      val st = new SnapshotTable(spark, root)
      val cw = new CrawlWave(spark, pages, st, sweepCfg)
      cw.init(seeds)
      var i = 0
      while (i < k && cw.step()) { cw.flush(); i += 1 }
      // crash shape alternates: even k crashes AT the boundary (latest
      // commit published); odd k crashes INSIDE the next commit — the
      // newest manifest is unpublished (deleted), its data dirs remain
      // on disk as orphans, and the version hint still names it
      if (k % 2 == 1) {
        val latest = st.latestVersion.get
        if (latest > 1)
          Files.delete(java.nio.file.Paths.get(root, "manifests", f"v$latest%05d.json"))
      }
      // resume: a brand-new engine over the crashed store
      new CrawlWave(spark, pages, st, sweepCfg).runAll(seeds)
      assert(crawlState(st) == want, s"crash point $k diverged from the control")
      // post-crash fsck: a resumed store upholds every manifest ↔ dirs
      // ↔ row_counts invariant, whatever the crash left behind
      val fsck = st.verify()
      assert(fsck.isEmpty, s"crash point $k fsck: ${fsck.mkString("; ")}")
    }
    pages.unpersist()
  }
}
