package graft

import graft.SparkTestBase.withTempDir
import graft.fixtures.Fixtures
import graft.store.SnapshotTable
import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

/** The spark-submit entrypoint ([[CrawlMain.run]]): fresh crawl over
  * parquet pages/seeds, then a rerun over the same store resumes from
  * the final snapshot without recrawling. The other two mains,
  * [[Verify]] and [[PlanAudit]], refuse query names that are not
  * registered. */
class CrawlMainSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("fresh run crawls; rerun resumes from the final snapshot") {
    withTempDir("graft-cmain-") { tmp =>
      Fixtures.pages(spark, dir).toDF.write.parquet(s"$tmp/pages")
      Fixtures.seeds(spark, dir).write.parquet(s"$tmp/seeds")
      val args = Array(
        "--pages", s"$tmp/pages", "--seeds", s"$tmp/seeds",
        "--store", s"$tmp/store", "--partitions", "4",
        "--wave-period-ms", "600000")

      val s1 = CrawlMain.run(spark, args)
      assert(s1.resumedFrom.isEmpty)
      assert(s1.done > 0 && s1.errors > 0)
      // every SCHEDULED URL (fetchable, deduped, robots-allowed) ends
      // done or error — w_crawl_order is the oracle-checked schedule
      val expected = SparkEntry.queries("w_crawl_order")(spark, dir).count()
      assert(s1.done + s1.errors == expected)

      val s2 = CrawlMain.run(spark, args)
      assert(s2.resumedFrom.contains(s1.version))
      assert(s2.version == s1.version) // nothing left to do
      assert(s2.done == s1.done && s2.errors == s1.errors)

      // --sweep-orphans-hours at init: an aged crash-leftover dir is
      // reclaimed, the resumed store is untouched
      import spark.implicits._
      val orphan = java.nio.file.Paths.get(s"$tmp/store", "data", "frontier", "v99999")
      Seq(1).toDF("x").write.parquet(orphan.toString)
      java.nio.file.Files.setLastModifiedTime(
        orphan, java.nio.file.attribute.FileTime.fromMillis(1L))
      val s3 = CrawlMain.run(spark, args ++ Array("--sweep-orphans-hours", "1"))
      assert(!java.nio.file.Files.exists(orphan))
      assert(s3.version == s1.version && s3.done == s1.done)

      // the benchmark's crawl flags (a bloom discovery crawl with
      // compaction every 2 waves), its wave period scaled from 12,000
      // seeds to sf0.001's 1,500 so the seed plan still spans several waves
      val disc = Array(
        "--pages", s"$tmp/pages", "--seeds", s"$tmp/seeds",
        "--store", s"$tmp/store-disc", "--partitions", "4",
        "--seen-filter", "bloom", "--wave-period-ms", "12500",
        "--compact-seen-every", "2", "--discover", "--max-generations", "1")
      val d1 = CrawlMain.run(spark, disc)
      assert(d1.resumedFrom.isEmpty)
      assert(d1.generations == 2)
      assert(d1.lastWave >= 2) // at least one compaction round (every 2 waves)
      // every scheduled seed plus every discovered URL (seq past the
      // largest seed seq) ends done or error
      val maxSeed = Fixtures.seeds(spark, dir).agg(max("seq")).head.getLong(0)
      val discovered = new SnapshotTable(spark, s"$tmp/store-disc")
        .read("frontier", d1.version).where(col("seq") > maxSeed).count()
      assert(discovered > 0)
      assert(d1.done + d1.errors == expected + discovered)

      val d2 = CrawlMain.run(spark, disc)
      assert(d2.resumedFrom.contains(d1.version))
      assert(d2.version == d1.version) // nothing left to do
      assert(d2.generations == d1.generations)
      assert(d2.done == d1.done && d2.errors == d1.errors)
    }
  }

  test("argument errors throw (embeddable) instead of exiting the JVM") {
    def msg(args: String*): String =
      intercept[IllegalArgumentException](CrawlMain.run(spark, args.toArray)).getMessage
    assert(msg("--pages", "/p", "--seeds", "/s").contains("--store is required"))
    assert(msg("--pages", "/p", "--seeds", "/s", "--store").contains("needs a value"))
    assert(msg("--pages", "/p", "--partitions", "many").contains("needs a number"))
    assert(msg("--frobnicate").contains("unknown argument"))
    // the removed two-phase rank flag fails loudly, not silently ignored
    assert(msg("--scalable-rank").contains("unknown argument"))
    // a wave shorter than 1 ms would be clamped to 1 token per wave
    for (p <- Seq("0", "-5"))
      assert(msg("--wave-period-ms", p).contains("--wave-period-ms must be positive"))
    assert(msg("--seen-partitions", "0").contains("--seen-partitions must be in"))
    assert(msg("--bloom-bits-per-partition", "-8").contains("must be in"))
    assert(msg("--max-generations", "4294967296").contains("must be in"))
    // --expected-keys derivation boundary
    assert(msg("--expected-keys", "0").contains("must be positive"))
    assert(msg("--pages", "/p", "--seeds", "/s", "--store", "/t",
      "--expected-keys", "1000", "--seen-partitions", "8")
      .contains("derives the seen-set layout"))
    // 10^10-key cuckoo exceeds a 64 MB budget and must refuse, not degrade
    assert(msg("--pages", "/p", "--seeds", "/s", "--store", "/t",
      "--seen-filter", "cuckoo", "--expected-keys", "10000000000",
      "--seen-budget-mb", "64").contains("cannot run under-provisioned"))
    // an unknown seen-filter kind fails before anything touches the
    // store, in CrawlMain's argument loop and in the engine constructor
    assert(msg("--pages", "/p", "--seeds", "/s", "--store", "/t",
      "--seen-filter", "bogus").contains("--seen-filter must be bloom or cuckoo"))
    withTempDir("graft-cmain-kind-") { tmp =>
      val e = intercept[IllegalArgumentException](new graft.jobs.CrawlWave(spark,
        spark.emptyDataFrame, new SnapshotTable(spark, s"$tmp/store"),
        graft.jobs.CrawlWave.Config(seenFilter = "Bloom")))
      assert(e.getMessage.contains("unknown seen filter: Bloom"))
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/store")))
    }
  }

  test("Verify and PlanAudit name only registered queries") {
    assert(PlanAudit.audited.toSet.subsetOf(SparkEntry.queries.keySet))
    val sc = spark.sparkContext
    withTempDir("graft-verify-") { tmp =>
      val out = s"$tmp/out"
      val e = intercept[IllegalArgumentException](
        Verify.main(Array(dir, out, "s1_seed_scan,no_such_query")))
      assert(e.getMessage.endsWith("unknown queries: no_such_query"))
      // thrown before Verify's getOrCreate (which would hand back the
      // shared session and stop it at the end) and before any output
      assert(!sc.isStopped)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out)))
    }
  }

  test("--expected-keys derives a crawlable layout; budget change refuses on resume") {
    withTempDir("graft-cmain-keys-") { tmp =>
      Fixtures.pages(spark, dir).toDF.write.parquet(s"$tmp/pages")
      Fixtures.seeds(spark, dir).write.parquet(s"$tmp/seeds")
      def args(budgetMb: String) = Array(
        "--pages", s"$tmp/pages", "--seeds", s"$tmp/seeds",
        "--store", s"$tmp/store", "--partitions", "4",
        "--wave-period-ms", "600000",
        "--expected-keys", "100000000", "--seen-budget-mb", budgetMb)

      // 10^8 keys at 10 b/key = 1 Gb > 16 MB budget → capped (under-
      // provisioned bloom), still crawls to the oracled schedule count
      val s1 = CrawlMain.run(spark, args("16"))
      val expected = SparkEntry.queries("w_crawl_order")(spark, dir).count()
      assert(s1.done + s1.errors == expected)
      // same derivation resumes; a budget change re-derives the layout
      // and must refuse against the store's recorded one
      assert(CrawlMain.run(spark, args("16")).resumedFrom.contains(s1.version))
      val m = intercept[IllegalArgumentException](
        CrawlMain.run(spark, args("64"))).getMessage
      assert(m.contains("layout mismatch"))
    }
  }

  test("seen-set sizing flags reach the engine; layout mismatch on resume fails fast") {
    withTempDir("graft-cmain-seen-") { tmp =>
      Fixtures.pages(spark, dir).toDF.write.parquet(s"$tmp/pages")
      Fixtures.seeds(spark, dir).write.parquet(s"$tmp/seeds")
      val base = Array(
        "--pages", s"$tmp/pages", "--seeds", s"$tmp/seeds",
        "--store", s"$tmp/store", "--partitions", "4",
        "--wave-period-ms", "600000")
      val sized = base ++ Array(
        "--seen-filter", "cuckoo", "--seen-partitions", "8",
        "--cuckoo-capacity-per-partition", "1024")

      // a custom layout crawls to the same outcome as the default one
      val s1 = CrawlMain.run(spark, sized)
      val expected = SparkEntry.queries("w_crawl_order")(spark, dir).count()
      assert(s1.done + s1.errors == expected)

      // same layout resumes; a DIFFERENT layout must refuse (blobs are
      // keyed by url_hash mod seen_parts — a silent false-negative hazard)
      assert(CrawlMain.run(spark, sized).resumedFrom.contains(s1.version))
      val m1 = intercept[IllegalArgumentException](
        CrawlMain.run(spark, sized ++ Array("--seen-partitions", "16"))).getMessage
      assert(m1.contains("layout mismatch") && m1.contains("seen_parts"))
      val m2 = intercept[IllegalArgumentException](
        CrawlMain.run(spark, base)).getMessage // bloom vs the store's cuckoo
      assert(m2.contains("layout mismatch") && m2.contains("seen_kind"))
    }
  }
}
