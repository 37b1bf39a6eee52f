package perfbench

import graft.fixtures.{Fixtures, NetSynth}
import graft.jobs.{CrawlWave, Synth}
import graft.urls.Canonicalize
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Writes one crawl workload's inputs for one seed, once, before any
  * measured run:
  *
  *  - `seeds/`: `seq, url, priority` from [[Synth.seedsSql]] over a
  *    synthesized orders base of `orders` keys, each replicated `rep`
  *    times (`key * rep + i`, as [[Synth.seeds]] does), after a seeded
  *    bijective remap of the replicated keys. Seed 0 is the identity
  *    remap, i.e. exactly `Synth.seeds(rep)` over the base;
  *  - `pages/`: `url, warc_ts, html, text_hash` — [[Fixtures.pageFor]]
  *    rows fingerprinted at ingest, for the seeds and for the outlink
  *    targets of the fetched seed pages, so a `--discover` crawl's
  *    generation 1 has real fetch hits;
  *  - `expected.json`: the final frontier state counts of a crawl of
  *    generations 0 and 1, and generation 1's size and (seq, url)
  *    digest, derived here from the inputs by a replica of the dispatch,
  *    dedup, robots and outlink rules that shares no code with the
  *    engine's plan or its link extraction.
  *
  * Usage: `Gen <cores> (<outDir> <seed> <orders> <rep>)…`, one group
  * per input, all made in one session.
  */
object Gen {

  /** Seeded bijection on `[0, domain)`: a four-round Feistel network on
    * the smallest even bit width covering the domain, cycle-walked back
    * into it (each walk step stays a bijection of the covering range). */
  def permute(x: Long, seed: Long, domain: Long): Long = {
    val bits = math.max(2, 64 - java.lang.Long.numberOfLeadingZeros(domain - 1))
    val half = (bits + 1) / 2
    val mask = (1L << half) - 1
    def round(r: Long, k: Int): Long = {
      var h = r * 0x9e3779b97f4a7c15L ^ (seed * 0xc2b2ae3d27d4eb4fL + k)
      h ^= h >>> 31; h *= 0xbf58476d1ce4e5b9L; h ^= h >>> 29
      h & mask
    }
    var y = x
    do {
      var l = y >>> half
      var r = y & mask
      var k = 0
      while (k < 4) { val t = r; r = l ^ round(r, k); l = t; k += 1 }
      y = (l << half) | r
    } while (y >= domain)
    y
  }

  private val imageExts = Seq("ico", "jpg", "png", "pdf", "bmp", "tiff")

  /** The fixture dispatch: http(s) scheme, no image extension. */
  private def fetchable(url: String): Boolean = {
    val lower = url.toLowerCase
    lower.startsWith("http") && !imageExts.exists(lower.endsWith)
  }

  /** The fixture robots rule: hosts whose length is divisible by 3
    * disallow the `/p/3` path prefix. */
  private def robotsDenied(url: String): Boolean = {
    val host = Canonicalize.crawlerDomain(url)
    val p = url.indexOf("/p/")
    host.length % 3 == 0 && p >= 0 && p + 3 < url.length && url.charAt(p + 3) == '3'
  }

  /** The fixture outlinks of a fetched page: the same-domain and
    * external-host links its synthesized body carries, from the
    * [[NetSynth]] link rules (not through the body or a tag scanner). */
  private def outlinks(url: String): Seq[String] = {
    val domain = Canonicalize.crawlerDomain(url)
    (0 until (2 + NetSynth.linkCount(url))).flatMap { i =>
      NetSynth.linkKind(url, i) match {
        case 0 => Some(s"http://$domain/page$i.html")
        case 1 => Some(s"http://ext${NetSynth.linkExt(url, i)}.example.org/x$i")
        case _ => None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val spark = Main.session(cores, cores)
    args.drop(1).grouped(4).foreach { case Array(out, seed, orders, rep) =>
      write(spark, cores, out, seed.toLong, orders.toLong, rep.toInt)
    }
    spark.stop()
  }

  private def write(spark: SparkSession, cores: Int, out: String, seed: Long, nOrders: Long,
      rep: Int): Unit = {
    import spark.implicits._

    val domain = 2L * nOrders * rep
    val remap = udf((k: Long) => if (seed == 0) k else permute(k, seed, domain))
    spark.range(nOrders)
      .select(col("id").as("k"),
        pmod(xxhash64(col("id")), lit(math.max(1L, nOrders / 10))).as("o_custkey"))
      .crossJoin(spark.range(rep).select(col("id").as("i")))
      .select(remap(col("k") * rep + col("i")).as("o_orderkey"), col("o_custkey"))
      .createOrReplaceTempView("orders_bench")
    val seeds = spark.sql(Synth.seedsSql.replace("FROM orders", "FROM orders_bench"))
      .as[(Long, String, Int)].collect().sortBy(_._1)
    seeds.toSeq.toDF("seq", "url", "priority").coalesce(1)
      .write.mode("overwrite").parquet(s"$out/seeds")

    // plan-time states, in the engine's precedence: scheme drop, image
    // extension drop, duplicate (not the url's first seq), robots deny
    var dropped, dup, denied = 0L
    def schedule(rows: Seq[(Long, String)]): Vector[String] = {
      val firstSeq = rows.groupBy(_._2).map { case (u, rs) => u -> rs.map(_._1).min }
      val b = Vector.newBuilder[String]
      rows.foreach { case (seq, url) =>
        if (!fetchable(url)) dropped += 1
        else if (firstSeq(url) != seq) dup += 1
        else if (robotsDenied(url)) denied += 1
        else b += url
      }
      b.result()
    }
    val gen0 = schedule(seeds.toSeq.map(s => (s._1, s._2)))
    // generation 1: the outlinks of every fetched seed page (a fetch miss
    // has no body; liveness gates sampling, not discovery) that are not
    // already in the frontier, numbered after the last seed in url order
    val seedUrls = seeds.map(_._2).toSet
    val maxSeedSeq = seeds.last._1
    val found = gen0.filterNot(NetSynth.isFetchMiss).flatMap(outlinks).distinct
      .filterNot(seedUrls).sorted
    val gen1Rows = found.zipWithIndex.map { case (u, i) => (maxSeedSeq + 1 + i, u) }
    val gen1 = schedule(gen1Rows)

    val pages = spark.createDataset((seeds.map(_._2).filter(fetchable) ++ found).distinct.toSeq)
      .repartition(cores * 4)
      .flatMap(u => Fixtures.pageFor(u).map(p =>
        (p.url, p.warc_ts, p.html, Option(p.text).map(CrawlWave.hashText))))
      .toDF("url", "warc_ts", "html", "text_hash").cache()
    pages.write.mode("overwrite").parquet(s"$out/pages")
    // a scheduled url ends done when its page exists and is alive (has a
    // golden text), error otherwise (fetch miss or dead page)
    val alive = pages.where(col("text_hash").isNotNull).select("url").as[String]
      .collect().toSet
    val scheduled = gen0 ++ gen1
    val done = scheduled.count(alive)
    val gen1Digest = gen1Rows.toDF("seq", "url")
      .agg(sum(pmod(xxhash64(col("seq"), col("url")), lit(2147483647L)))).head
    val expected = Map(
      "done" -> done, "error" -> (scheduled.length - done), "dup" -> dup,
      "dropped" -> dropped, "denied" -> denied, "seeds" -> seeds.length,
      "max_seed_seq" -> maxSeedSeq, "discovered" -> found.length,
      "discovered_digest" -> (if (gen1Digest.isNullAt(0)) 0L else gen1Digest.getLong(0)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "expected.json"),
      Serialization.write(expected)(DefaultFormats))
    pages.unpersist()
  }
}
