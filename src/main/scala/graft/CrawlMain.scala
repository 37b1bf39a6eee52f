package graft

import graft.frontier.Cuckoo
import graft.jobs.CrawlWave
import graft.store.SnapshotTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, when}

/** Production entrypoint: the crawl engine as a spark-submit job
  * (north rule: "runs via spark-submit on a multi-executor cluster").
  *
  *   spark-submit --class graft.CrawlMain spiderspark.jar \
  *     --pages  <parquet/iceberg path: url,warc_ts,html,text[,lang] —
  *               or url,warc_ts,html,text_hash (goldens fingerprinted at
  *               ingest; see CrawlWave.pagesByUrl)> \
  *     --seeds  <parquet path: seq,url[,priority]> \
  *     --store  <snapshot-store root (resume = same path)> \
  *     [--partitions N] [--wave-period-ms MS] [--discover] \
  *     [--max-generations N] [--no-robots] [--agent NAME] \
  *     [--seen-filter bloom|cuckoo] [--seen-partitions N] \
  *     [--bloom-bits-per-partition N] [--bloom-hashes K] \
  *     [--cuckoo-capacity-per-partition N] \
  *     [--expected-keys N [--seen-budget-mb MB]] \
  *     [--compact-seen-every K] [--expire-keep N] \
  *     [--sweep-orphans-hours H] [--scalable-rank] [--fetch-ftp]
  *
  * The session's master/executors come from spark-submit (no
  * `.master()` here; local runs pass `-Dspark.master=local[N]`).
  * `--partitions` should be sized for the FULL cluster (tasks/core ×
  * total cores); the same layout is reused when the job later runs on
  * fewer executors.
  *
  * Seen-set sizing: the broadcast filter totals `--seen-partitions` ×
  * blob size (bloom blob = bits/8; cuckoo blob ≈ capacity × 2.1 B), and
  * [[graft.jobs.CrawlWave]]'s capped-budget contract means these knobs
  * trade executor memory against exact-confirm work, never correctness:
  * an under-provisioned filter only raises the false-positive rate and
  * thereby the per-wave suspect set handed to the exact confirm.
  * `--expected-keys N [--seen-budget-mb MB]` derives the layout instead
  * of hand-computing it: bloom sizes to ~10 bits/key capped by the
  * budget (past the cap — 10^10 keys at 10 bits/key ≈ 12 GB — it runs
  * deliberately under-provisioned and the part-pruned confirm absorbs
  * the FP overflow); cuckoo sizes exactly and REFUSES over budget (an
  * over-full cuckoo degrades to an unbounded stash). These are
  * FRESH-STORE knobs: the init manifest records the layout and a
  * resume under a different one fails fast.
  *
  * A rerun over an existing non-empty store RESUMES
  * from its latest committed snapshot (crash/restart safe; every wave
  * is one atomic commit). Exit summary (waves, URLs done/error,
  * throughput) is printed from manifest metadata — no extra jobs over
  * the result tables beyond one final count.
  */
object CrawlMain {

  private val usageText =
    "usage: graft.CrawlMain --pages P --seeds S --store DIR " +
      "[--partitions N] [--wave-period-ms MS] [--discover] " +
      "[--max-generations N] [--no-robots] [--agent NAME] " +
      "[--seen-filter bloom|cuckoo] [--seen-partitions N] " +
      "[--bloom-bits-per-partition N] [--bloom-hashes K] " +
      "[--cuckoo-capacity-per-partition N] " +
      "[--expected-keys N [--seen-budget-mb MB]] [--compact-seen-every K] " +
      "[--expire-keep N] [--sweep-orphans-hours H] " +
      "[--scalable-rank] [--fetch-ftp]"

  /** Argument errors THROW (so [[run]] stays embeddable in tests and
    * other drivers); only [[main]] turns them into usage + exit 2. */
  private def bad(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** One finished crawl's exit summary (printed by [[main]]). */
  final case class Summary(version: Int, resumedFrom: Option[Int],
      generations: Long, lastWave: Long, done: Long, errors: Long, sec: Double)

  /** The crawl run behind [[main]], reusable from tests / other drivers
    * (does not create or stop the session). */
  def run(spark: SparkSession, args: Array[String]): Summary = {
    val defaults = CrawlWave.Config()
    var pages, seeds, store: Option[String] = None
    var partitions: Option[Int] = None
    var wavePeriodMs = 1000L
    var discover, scalableRank, fetchFtp = false
    var robots = true
    var agent = "graftbot"
    var seenFilter = "bloom"
    var seenPartitionsOpt, bloomBitsOpt, bloomHashesOpt, cuckooCapacityOpt: Option[Int] = None
    var maxGenerations = defaults.maxGenerations
    var compactSeenEvery = defaults.compactSeenEvery
    var expireKeep = defaults.expireKeep
    var sweepOrphansHours = 0L
    var expectedKeys: Option[Long] = None
    var seenBudgetMb = 1024
    var i = 0
    def value(flag: String): String = {
      if (i + 1 >= args.length) bad(s"$flag needs a value")
      args(i + 1)
    }
    def numValue(flag: String): Long =
      try value(flag).toLong
      catch { case _: NumberFormatException => bad(s"$flag needs a number, got '${args(i + 1)}'") }
    // validate at the usage boundary: zero/negative or an int-
    // overflowing count otherwise surfaces as an obscure Spark
    // internal error long after argument parsing
    def posIntValue(flag: String): Int = {
      val n = numValue(flag)
      if (n < 1 || n > Int.MaxValue) bad(s"$flag must be in [1, ${Int.MaxValue}], got $n")
      n.toInt
    }
    while (i < args.length) {
      args(i) match {
        case "--pages" => pages = Some(value("--pages")); i += 2
        case "--seeds" => seeds = Some(value("--seeds")); i += 2
        case "--store" => store = Some(value("--store")); i += 2
        case "--partitions" => partitions = Some(posIntValue("--partitions")); i += 2
        case "--wave-period-ms" => wavePeriodMs = numValue("--wave-period-ms"); i += 2
        case "--agent" => agent = value("--agent"); i += 2
        case "--seen-filter" =>
          seenFilter = value("--seen-filter")
          // here, not at the first commit: that runs after init's writes
          if (seenFilter != "bloom" && seenFilter != "cuckoo")
            bad(s"--seen-filter must be bloom or cuckoo, got '$seenFilter'")
          i += 2
        case "--seen-partitions" =>
          seenPartitionsOpt = Some(posIntValue("--seen-partitions")); i += 2
        case "--bloom-bits-per-partition" =>
          bloomBitsOpt = Some(posIntValue("--bloom-bits-per-partition")); i += 2
        case "--bloom-hashes" => bloomHashesOpt = Some(posIntValue("--bloom-hashes")); i += 2
        case "--cuckoo-capacity-per-partition" =>
          cuckooCapacityOpt = Some(posIntValue("--cuckoo-capacity-per-partition")); i += 2
        case "--expected-keys" =>
          val n = numValue("--expected-keys")
          if (n < 1) bad(s"--expected-keys must be positive, got $n")
          expectedKeys = Some(n); i += 2
        case "--seen-budget-mb" => seenBudgetMb = posIntValue("--seen-budget-mb"); i += 2
        case "--max-generations" => maxGenerations = posIntValue("--max-generations"); i += 2
        case "--compact-seen-every" =>
          val n = numValue("--compact-seen-every")
          if (n < 0 || n > Int.MaxValue) bad(s"--compact-seen-every must be in [0, ${Int.MaxValue}], got $n")
          compactSeenEvery = n.toInt; i += 2
        // snapshot retention: keep the newest N versions (+ the init
        // manifest, which anchors the resume layout guard); 0 = keep
        // all. Runs on the compaction cadence + the final commit.
        case "--expire-keep" =>
          val n = numValue("--expire-keep")
          if (n < 0 || n > Int.MaxValue) bad(s"--expire-keep must be in [0, ${Int.MaxValue}], got $n")
          expireKeep = n.toInt; i += 2
        // orphan sweep at init (nothing in flight): delete data/scratch
        // dirs no manifest references — crash leftovers — older than H
        // hours; 0 = off. H must clear the longest conceivable wave.
        case "--sweep-orphans-hours" =>
          val n = numValue("--sweep-orphans-hours")
          if (n < 0) bad(s"--sweep-orphans-hours must be >= 0, got $n")
          sweepOrphansHours = n; i += 2
        case "--discover" => discover = true; i += 1
        case "--no-robots" => robots = false; i += 1
        case "--scalable-rank" => scalableRank = true; i += 1
        case "--fetch-ftp" => fetchFtp = true; i += 1
        case other => bad(s"unknown argument: $other")
      }
    }
    val pagesPath = pages.getOrElse(bad("--pages is required"))
    val seedsPath = seeds.getOrElse(bad("--seeds is required"))
    val storePath = store.getOrElse(bad("--store is required"))

    // --expected-keys: derive the seen-set layout from the frontier's
    // expected key count under a total broadcast budget, instead of
    // hand-computed per-partition knobs. Bloom sizes to ~10 bits/key
    // and DEGRADES GRACEFULLY when the budget caps it (the FP rate
    // rises, which only grows the suspect set handed to the exact
    // confirm — the capped-budget contract in [[graft.jobs.CrawlWave]]).
    // Cuckoo cannot run under-provisioned (an over-full table falls
    // back to an unbounded linear-scan stash), so an over-budget cuckoo
    // REFUSES rather than degrades.
    var seenPartitions = seenPartitionsOpt.getOrElse(defaults.seenPartitions)
    var bloomBits = bloomBitsOpt.getOrElse(defaults.bloomBitsPerPartition)
    val bloomHashes = bloomHashesOpt.getOrElse(defaults.bloomHashes)
    var cuckooCapacity = cuckooCapacityOpt.getOrElse(defaults.cuckooCapacityPerPartition)
    for (keys <- expectedKeys) {
      if (seenPartitionsOpt.orElse(bloomBitsOpt).orElse(bloomHashesOpt)
          .orElse(cuckooCapacityOpt).isDefined)
        bad("--expected-keys derives the seen-set layout; drop the explicit " +
          "sizing flags (--seen-partitions/--bloom-bits-per-partition/" +
          "--bloom-hashes/--cuckoo-capacity-per-partition) or size by hand")
      def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
      val budgetBits = seenBudgetMb.toLong * 8L * 1024 * 1024
      seenFilter match {
        case "bloom" =>
          val wantBits = keys * 10L // ~0.9% FP at 5 hashes
          val gotBits = math.min(wantBits, budgetBits)
          val maxBlobBits = 1L << 29 // 64 MB per broadcast blob
          val p = math.max(32L, ceilDiv(gotBits, maxBlobBits))
          if (p > Int.MaxValue) bad(s"--expected-keys $keys needs $p seen partitions")
          seenPartitions = p.toInt
          bloomBits = math.max(1024L, ceilDiv(gotBits, p)).toInt
          if (gotBits < wantBits)
            System.err.println(s"note: seen-set budget ${seenBudgetMb} MB caps the " +
              s"bloom filter at ${gotBits / math.max(1L, keys)} bits/key (wanted 10): " +
              "under-provisioned regime — FP rate rises, the part-pruned exact " +
              "confirm absorbs the extra suspects; correctness is unaffected")
        case "cuckoo" =>
          val maxCapPerPart = 30L << 20 // ≈64 MB table after pow2 rounding
          val p = math.max(32L, ceilDiv(keys, maxCapPerPart))
          if (p > Int.MaxValue) bad(s"--expected-keys $keys needs $p seen partitions")
          seenPartitions = p.toInt
          cuckooCapacity = ceilDiv(keys, p).toInt
          val totalBytes = p * Cuckoo.tableBytes(cuckooCapacity)
          if (totalBytes * 8 > budgetBits)
            bad(s"cuckoo at $keys keys needs ${totalBytes >> 20} MB > budget " +
              s"$seenBudgetMb MB and cannot run under-provisioned (an over-full " +
              "table degrades to an unbounded stash) — raise --seen-budget-mb " +
              "or use --seen-filter bloom, which degrades gracefully under a cap")
      }
      println(s"GRAFT_SEEN_LAYOUT kind=$seenFilter parts=$seenPartitions " +
        (if (seenFilter == "bloom") s"bloom_bits_per_partition=$bloomBits hashes=$bloomHashes"
         else s"cuckoo_capacity_per_partition=$cuckooCapacity") +
        s" expected_keys=$keys budget_mb=$seenBudgetMb")
    }

    val parts = partitions.getOrElse(spark.sparkContext.defaultParallelism * 3)
    // getOption can't distinguish "unset" from the 200 default on a
    // registered SQL conf — only an explicit spark-submit --conf (or
    // builder .config) lands in the SparkConf, so check that instead
    if (!spark.sparkContext.getConf.contains("spark.sql.shuffle.partitions"))
      spark.conf.set("spark.sql.shuffle.partitions", parts)

    val pagesDf = spark.read.parquet(pagesPath)
    val seedsDf = spark.read.parquet(seedsPath)
    val snap = new SnapshotTable(spark, storePath)
    if (sweepOrphansHours > 0) {
      val n = snap.removeOrphans(sweepOrphansHours * 3600L * 1000L)
      if (n > 0) println(s"GRAFT_ORPHANS_SWEPT dirs=$n")
    }
    val cw = new CrawlWave(spark, pagesDf, snap, CrawlWave.Config(
      wavePeriodMs = wavePeriodMs,
      partitions = parts,
      robots = robots,
      agent = agent,
      seenFilter = seenFilter,
      seenPartitions = seenPartitions,
      bloomBitsPerPartition = bloomBits,
      bloomHashes = bloomHashes,
      cuckooCapacityPerPartition = cuckooCapacity,
      maxGenerations = maxGenerations,
      compactSeenEvery = compactSeenEvery,
      expireKeep = expireKeep,
      discover = discover,
      scalableRank = scalableRank,
      fetchFtp = fetchFtp))

    val resumedFrom = snap.latestVersion
    val t0 = System.nanoTime()
    val v = cw.runAll(seedsDf)
    val sec = (System.nanoTime() - t0) / 1e9

    val m = snap.metricsOf(v)
    // done + errors in one pass over the final frontier
    val counts = snap.read("frontier", v).agg(
      count(when(col("state") === "done", true)),
      count(when(col("state") === "error", true))).head
    Summary(v, resumedFrom, m.getOrElse("gen", 0L) + 1,
      m.getOrElse("wave", -1L), counts.getLong(0), counts.getLong(1), sec)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().appName("graft-crawl")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val s =
      try run(spark, args)
      catch {
        case e: IllegalArgumentException =>
          System.err.println(s"error: ${e.getMessage}")
          System.err.println(usageText)
          spark.stop()
          sys.exit(2)
      }
    println(s"GRAFT_CRAWL version=${s.version} resumed_from=${s.resumedFrom.getOrElse(-1)} " +
      s"generations=${s.generations} last_wave=${s.lastWave} " +
      s"done=${s.done} errors=${s.errors} sec=${s.sec} urls_per_sec=${(s.done + s.errors) / s.sec}")
    spark.stop()
  }
}
