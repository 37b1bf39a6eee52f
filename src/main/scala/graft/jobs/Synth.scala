package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthesis of the crawl-engine input space from the
  * driver's parquet testdata — NO wall clock, NO randomness, NO external
  * data. Every synthesized table is defined as a SQL expression written
  * in the shared Spark/DuckDB dialect subset so the driver's DuckDB
  * oracle can reproduce it bit-for-bit (`SparkEntry.oracleSql`).
  *
  * The URL population models the shapes found in the reference's seed
  * corpora (`/root/reference/legitimate`, `/root/reference/phisher_website`
  * — http/https mix, `www.` prefixes, userinfo `@`, `:port`, query
  * strings, image-extension URLs that `spider.py:528-533` skips, `ftp:`
  * rows that `spider.py:535` drops, duplicates, and deliberately hot
  * hosts for skew) — synthesized here from `orders.o_orderkey` instead
  * of shipping any external list.
  */
object Synth {

  /** Shared-dialect seeds SQL: `seq BIGINT, url STRING, priority INT`
    * from `orders`. `priority` (0 = most urgent, from `o_orderkey % 3`)
    * feeds the priority-queue frontier: the politeness window ranks per
    * host by (priority, seq).
    *
    * Row classes by `o_orderkey` residues:
    *  - %7=0   → duplicate-heavy URLs keyed by `o_custkey % 100` (dedup tests)
    *  - %19=0  → `ftp:` scheme (dropped by scheme dispatch, spider.py:535)
    *  - %23∈{1,2,3} → image extensions (skipped, spider.py:528-533)
    *  - %37=4  → IP-literal host (is_ip_address); %41=7 → dashed host
    *  - %10<4  → two "hot" hosts (host-skew / politeness tests)
    *  - %11=3  → `user@` userinfo; %13=5 → `:8080` port; %5=4 → query string
    */
  val seedsSql: String =
    """SELECT o_orderkey AS seq,
      |  CASE WHEN o_orderkey % 7 = 0
      |       THEN 'https://dup.example.com/p/' || cast(o_custkey % 100 as string)
      |       ELSE
      |    CASE WHEN o_orderkey % 19 = 0 THEN 'ftp'
      |         WHEN o_orderkey % 2 = 0 THEN 'http' ELSE 'https' END
      |    || '://'
      |    || CASE WHEN o_orderkey % 11 = 3 THEN 'user@' ELSE '' END
      |    || CASE WHEN o_orderkey % 37 = 4 THEN '93.184.216.' || cast(o_orderkey % 250 as string)
      |            WHEN o_orderkey % 41 = 7 THEN 'pay-pal' || cast(o_orderkey % 13 as string) || '.example.com'
      |            WHEN o_orderkey % 10 < 4 THEN 'hot' || cast(o_orderkey % 2 as string) || '.example.com'
      |            ELSE 'www.h' || cast(o_orderkey % 97 as string) || '.example.com' END
      |    || CASE WHEN o_orderkey % 13 = 5 THEN ':8080' ELSE '' END
      |    || '/p/' || cast(o_orderkey as string)
      |    || CASE WHEN o_orderkey % 23 = 1 THEN '.jpg'
      |            WHEN o_orderkey % 23 = 2 THEN '.png'
      |            WHEN o_orderkey % 23 = 3 THEN '.ico' ELSE '' END
      |    || CASE WHEN o_orderkey % 5 = 4 THEN '?q=' || cast(o_orderkey % 50 as string) ELSE '' END
      |  END AS url,
      |  cast(o_orderkey % 3 as int) AS priority
      |FROM orders""".stripMargin

  /** `ftp:` rows (S8, spider.py:535 → DownloadFTPFile): shared-dialect
    * WHERE over `seeds`. The image-extension skip does NOT apply to ftp
    * (it lives inside the reference's http branch). */
  val ftpWhere: String = "(lower(url) LIKE 'ftp:%')"

  /** Scheme dispatch + image-extension skip (spider.py:526-536, S2+S3):
    * shared-dialect WHERE over `seeds`. Mirrors the reference exactly:
    * `url.lower().startswith('http')` and DOTLESS
    * `url.lower().endswith('ico')` etc — '…/calico' IS skipped.
    * Documented divergence: SQL lower() is the unicode mapping while
    * the reference byte-lowers (ASCII-only); they can differ only when
    * a url's last 3-4 chars include a non-ASCII CASED letter — none of
    * the skip suffixes is reachable that way except via exotica like
    * U+212A→'k', and keeping lower() keeps the predicate pushdown-able
    * and identical in both oracle dialects. */
  val fetchableWhere: String =
    """(lower(url) LIKE 'http%')
      | AND NOT (lower(url) LIKE '%ico' OR lower(url) LIKE '%jpg' OR lower(url) LIKE '%png'
      |       OR lower(url) LIKE '%pdf' OR lower(url) LIKE '%bmp' OR lower(url) LIKE '%tiff')""".stripMargin

  // (The crawler-domain canonicalization SQL replica lives ONLY in
  // SparkEntry's hostedCte — a second copy here drifted silently and
  // had no call sites, so it was removed.)

  /** Convert the shared-dialect SQL to DuckDB: only the cast type name
    * differs (Spark `string` ↔ DuckDB `varchar`). */
  def duck(sql: String): String = sql.replace(" as string)", " as varchar)")

  /** Register the parquet tables of one sf dir as temp views. `orders`
    * is registered PRE-SPREAD (repartitioned to the session's
    * parallelism): each sf parquet is one small file = one input split,
    * and orders feeds the URL-expansion CASE of every seeds consumer —
    * unspread, that whole expansion runs in a single task. Content is
    * identical (seq is content-defined), so the shared-dialect SQL and
    * the DuckDB oracle are unaffected. */
  def views(spark: SparkSession, sfDir: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      val out =
        if (t == "orders") df.repartition(spark.sparkContext.defaultParallelism)
        else df
      out.createOrReplaceTempView(t)
    }

  /** Seeds DataFrame for one sf dir. */
  def seeds(spark: SparkSession, sfDir: String): DataFrame = {
    views(spark, sfDir, Seq("orders")) // registered pre-spread (see views)
    spark.sql(seedsSql)
  }
}
