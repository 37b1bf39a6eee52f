package graft

import graft.features.{ExtractConfig, ExtractorSet5}
import graft.fixtures.{Fixtures, NetSynth}
import graft.jobs.{CrawlWave, Synth}
import graft.ops.{Ann, Dedup, Multimodal, TextAnalysis}
import graft.parse.{CharsetDecode, SampleRender}
import graft.store.SnapshotTable
import graft.tfidf.{Elm, Tokenize}
import graft.urls.Canonicalize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract (SURVEY.md §7 + the builder prompt): one `queries`
  * entry per implemented operator, with DuckDB oracle SQL over the SAME
  * parquet tables wherever the op is SQL-expressible.
  *
  * Oracle discipline:
  *  - the crawl-input URL space is synthesized from `orders` in the
  *    shared Spark/DuckDB dialect ([[Synth.seedsSql]]) so both engines
  *    derive identical inputs;
  *  - float-derived outputs are emitted as integer micro-units
  *    (`cast(round(x*1e6, 0) as bigint)`) — DuckDB's `round(x, n)`
  *    yields DECIMAL and its double→int casts round instead of
  *    truncate, so raw doubles/naked casts are never compared;
  *  - queries exercising pure-Scala reference semantics (canonicalizers,
  *    politeness windows via the live engine) are cross-checked against
  *    INDEPENDENT SQL re-implementations in the oracle — not the same
  *    code path;
  *  - the sketch ops (MinHash/SimHash/LSH/winnowing) hash with md5
  *    ([[graft.ops.PortableHash]]), so their oracles recompute every
  *    signature in SQL;
  *  - the one rows-only entry, `extract_features_full` (the whole
  *    feature vector), is property-tested in ScalaTest instead.
  */
object SparkEntry {

  // wave-period for politeness schedule checks (ms)
  private val WavePeriodMs = 60000L

  /** Fixed `asOf` instant for the nslookup day-age feature (the
    * reference uses `datetime.now()` — nondeterminism alert, SURVEY.md
    * §2.6): 2025-09-01T00:00:00Z, a UTC midnight so the day difference
    * is an exact calendar-day count in both engines. */
  private val NetAsOfEpoch = 1756684800L

  private def reg(s: SparkSession, dir: String): Unit =
    Synth.views(s, dir, Seq("orders", "documents", "embeddings"))

  // ----------------------------------------------------------- shared CTEs

  private def withSeeds(body: String): String =
    s"WITH seeds AS (\n${Synth.seedsSql}\n),\n$body"

  private val fetchableCte =
    s"fetchable AS (SELECT seq, url, priority FROM seeds WHERE ${Synth.fetchableWhere})"

  private val dedupCte =
    "deduped AS (SELECT url, min(seq) AS seq, min_by(priority, seq) AS priority FROM fetchable GROUP BY url)"

  /** Crawler-domain canonicalization chain (spider.py:45-60) over
    * `deduped` — independent SQL replica of `Canonicalize.crawlerDomain`. */
  private val hostedCte =
    """h0 AS (SELECT seq, url, priority, substr(url, instr(url, '//') + 2) AS d0 FROM deduped),
      |h1 AS (SELECT seq, url, priority, CASE WHEN instr(d0, '/') > 0 THEN substr(d0, 1, instr(d0, '/') - 1)
      |                             WHEN instr(d0, '?') > 0 THEN substr(d0, 1, instr(d0, '?') - 1)
      |                             ELSE d0 END AS d1 FROM h0),
      |h2 AS (SELECT seq, url, priority, CASE WHEN instr(d1, '@') > 0 THEN substr(d1, instr(d1, '@') + 1) ELSE d1 END AS d2 FROM h1),
      |hosted AS (SELECT seq, url, priority, CASE WHEN instr(d2, ':') > 0 THEN regexp_replace(d2, ':[^:]*$', '') ELSE d2 END AS host FROM h2)""".stripMargin

  /** Robots-deny filter — independent SQL replica of the deterministic
    * fixture rule ([[graft.frontier.Robots.synthTxt]]): hosts with
    * `length % 3 == 0` disallow the `/p/3` path prefix. */
  private val allowedCte =
    """allowed AS (SELECT seq, url, priority, host FROM hosted
      |  WHERE NOT (length(host) % 3 = 0 AND substr(url, instr(url, '/p/') + 3, 1) = '3'))""".stripMargin

  /** Politeness token-bucket schedule (SURVEY.md §2.5) as pure window
    * SQL over the robots-allowed set; per-host rank by (priority, seq)
    * — the priority-queue frontier ordering. */
  private val scheduledCte =
    s"""ranked AS (SELECT seq, url, priority, host,
       |  cast(row_number() OVER (PARTITION BY host ORDER BY priority, seq) as int) AS host_rank,
       |  greatest(cast(1 as bigint), cast(floor($WavePeriodMs / ((length(host) % 4 + 1) * 100)) as bigint)) AS tokens
       |  FROM allowed),
       |scheduled AS (SELECT seq, url, priority, host, host_rank, tokens,
       |  cast(floor((host_rank - 1.0) / tokens) as int) AS wave FROM ranked)""".stripMargin

  /** Extractor-domain chain (`extractor/__init__.py:83-105`) over a
    * relation `hrefs(seq, href)` — NULL marks the no-`//` → "." case. */
  private val extractorDomainCtes =
    """e0 AS (SELECT seq, href, CASE WHEN instr(href, '//') = 0 THEN NULL
      |                              ELSE substr(href, instr(href, '//') + 2) END AS d0 FROM hrefs),
      |e1 AS (SELECT seq, href, CASE WHEN d0 IS NULL THEN NULL
      |                              WHEN instr(d0, '/') > 1 THEN substr(d0, 1, instr(d0, '/') - 1)
      |                              WHEN instr(d0, '?') > 1 THEN substr(d0, 1, instr(d0, '?') - 1)
      |                              ELSE d0 END AS d1 FROM e0),
      |e2 AS (SELECT seq, href, CASE WHEN d1 IS NULL THEN NULL
      |                              WHEN instr(substr(d1, 2), ':') > 0 THEN regexp_replace(d1, ':[^:]*$', '')
      |                              ELSE d1 END AS d2 FROM e1),
      |e3 AS (SELECT seq, href, CASE WHEN d2 IS NULL THEN NULL
      |                              WHEN instr(d2, '@') > 1 THEN substr(d2, instr(d2, '@') + 1)
      |                              ELSE d2 END AS d3 FROM e2),
      |edom AS (SELECT seq, href, CASE WHEN d3 IS NULL THEN '.'
      |                                WHEN d3 LIKE 'www.%' THEN substr(d3, 5)
      |                                ELSE d3 END AS domain FROM e3)""".stripMargin

  /** SQL fragments shared by the set-feature oracles. */
  private object UrlSqlHelpers {
    /** OR-chain of brand containment tests (case-sensitive, like the
      * reference's `in` — `extractors3/url_feature.py:236`). */
    def brandOr(domCol: String): String =
      graft.features.UrlFeatureSets.brands
        .map(b => s"instr($domCol, '${b.replace("'", "''")}') > 0")
        .mkString("(", " OR ", ")")
  }

  /** Spark-side materialization barrier for the schedule family: the
    * chained hosted-CTE re-inlines the seeds CASE expression ~24× when
    * Catalyst collapses the projections (blowing the 64KB codegen
    * limit and forcing interpreted fallback), so the Spark side
    * evaluates `hosted` ONCE into a cached view and runs the window SQL
    * on top. DuckDB (which materializes CTE steps) keeps the original
    * full-CTE oracle text — semantics identical. */
  // WEAK session keys: a strongly-keyed memo would pin every stopped
  // SparkSession (and its checkpoint blocks' lineage) for the JVM's
  // lifetime in session-cycling processes (the bench/dev-loop pattern);
  // temp views are session-scoped, so keying by dir alone is not enough
  private val hostedViews = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, String]]())

  /** Build (once per (session, dir)) the materialized hosted view and
    * return its dir-unique name. Keyed like the engine-root memos: a
    * single-slot memo would rebuild both eager checkpoints on every
    * sf-dir alternation and leak the superseded checkpoint blocks;
    * dir-suffixed names + localCheckpoint make the view content
    * immutable, so later `reg` calls for other dirs cannot disturb it. */
  private def hostedView(s: SparkSession, dir: String): String = {
    val perSession = hostedViews.synchronized {
      var m = hostedViews.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, String]
        hostedViews.put(s, m)
      }
      m
    }
    perSession.getOrElseUpdate(dir, {
      reg(s, dir)
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val fetchName = s"fetchable_m_$tag"
      val hostName = s"hosted_m_$tag"
      // stage 1: evaluate the seeds CASE once; localCheckpoint is a HARD
      // lineage barrier (plain cache substitution does not reliably stop
      // the inlining here)
      s.sql(withSeeds(s"$fetchableCte SELECT seq, url, priority FROM fetchable"))
        .localCheckpoint(eager = true)
        .createOrReplaceTempView(fetchName)
      // stage 2: dedup aggregate + crawler-domain chain over plain columns
      s.sql(
        s"""WITH ${dedupCte.replace("FROM fetchable", s"FROM $fetchName")},
           |${hostedCte}
           |SELECT seq, url, priority, host FROM hosted""".stripMargin)
        .localCheckpoint(eager = true)
        .createOrReplaceTempView(hostName)
      hostName
    })
  }

  // ------------------------------------------------------------ temp roots

  /** The temp dirs the memos below create. Their queries read them
    * lazily for the life of the JVM, so they are deleted only at exit,
    * by one shutdown hook installed with the first root. */
  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val deleteTempRootsAtExit: Unit = sys.addShutdownHook(
    tempRoots.forEach(p => scala.util.Try(SnapshotTable.deleteRecursively(p))))

  private def tempRoot(prefix: String): java.nio.file.Path = {
    deleteTempRootsAtExit
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.add(p)
    p
  }

  // ----------------------------------------------------------- engine memo

  /** One full crawl-engine run per (sf dir, discover), its snapshot root
    * memoized so the queries reading one run share it. The discovery run
    * (frontier growth on, 3 generations) has its own store — its
    * generations must not disturb the seed-plan oracles. */
  private val crawlRoots = scala.collection.concurrent.TrieMap.empty[(String, Boolean), String]

  private def crawlStore(s: SparkSession, dir: String, discover: Boolean): SnapshotTable = {
    val root = crawlRoots.getOrElseUpdate((dir, discover), {
      val tmp = tempRoot(if (discover) "graft-crawl-disc-" else "graft-crawl-").toString
      val pages = Fixtures.pages(s, dir).toDF.cache()
      val store = new SnapshotTable(s, tmp)
      val cw = new CrawlWave(s, pages, store, CrawlWave.Config(
        wavePeriodMs = WavePeriodMs,
        partitions = math.max(s.sparkContext.defaultParallelism, 4),
        discover = discover, maxGenerations = 3)) // maxGenerations is read only when discovering
      cw.runAll(Fixtures.seeds(s, dir))
      pages.unpersist()
      tmp
    })
    new SnapshotTable(s, root)
  }

  // ------------------------------------------------- S9/S10/S11 file fixtures

  /** Per-sf temp directory holding the file-format source fixtures
    * (S9 title list, S10 JSONL vectors, S11 term file), generated ONCE
    * per dir, deterministically, from the `documents` table — so the
    * file-scan operators get real read paths while their EXPECTED
    * content stays DuckDB-derivable from the same table. */
  private val sourceFileRoots = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Title threshold for the S11 term file (looser than term_select's
    * 0.5 so several terms survive and the round trip is non-trivial). */
  private val TermFileThreshold = 0.3

  private def sourceFiles(s: SparkSession, dir: String): java.nio.file.Path = {
    val root = sourceFileRoots.getOrElseUpdate(dir, {
      import s.implicits._
      reg(s, dir)
      val tmp = tempRoot("graft-sources-")
      val docs = s.table("documents")
        .select(col("doc_id").cast("long"), col("n_chars").cast("long"), col("text"))
        .as[(Long, Long, String)].collect().sortBy(_._1)
      // S9: one padded title line per doc (exercises the strip
      // semantics). Prefix length counts CODE POINTS like the oracle's
      // substr(text, 1, 40) — String.take(40) counts UTF-16 units and
      // could split a surrogate pair (writeString would then throw)
      val titles = docs.map { case (_, _, t) =>
        val cleaned = t.replace('\n', ' ').replace('\r', ' ').replace('\t', ' ')
        val cpEnd = cleaned.offsetByCodePoints(0,
          math.min(40, cleaned.codePointCount(0, cleaned.length)))
        "  " + cleaned.substring(0, cpEnd) + "  "
      }
      java.nio.file.Files.writeString(tmp.resolve("titles.txt"),
        titles.mkString("", "\n", "\n"))
      // S10: JSON arrays with a list at [-4] (the reference's splice
      // case, train/lc-elm.py:188-191) + blank lines every 50 (skipped)
      val jsonl = docs.flatMap { case (id, nChars, _) =>
        val line = s"""[$id, $nChars, ${id % 2 == 0}, ["k"], ${id % 7}, ${id % 11}, ${id % 13}]"""
        if (id % 50 == 0) Seq(line, "") else Seq(line)
      }
      java.nio.file.Files.writeString(tmp.resolve("vectors.jsonl"),
        jsonl.mkString("", "\n", "\n"))
      // S11: term file from the shared tokenize/select SQL at 0.3
      // UTF-8 BYTE order (DuckDB's binary collation), not Java UTF-16
      // code-unit order — they disagree for astral vs U+E000..U+FFFF
      val terms = s.sql(termSelectOnlySql(sparkTokSql, TermFileThreshold))
        .as[String].collect()
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0).toSeq
      graft.tfidf.TermFile.write(tmp.resolve("tfidf2 30% term"), terms.indices, terms)
      tmp.toString
    })
    java.nio.file.Paths.get(root)
  }

  // shared tokenizer + selection SQL (spark/duck dialects). Case fold
  // is an explicit ASCII translate, NOT lower(): Spark's lower() is the
  // full context-sensitive mapping (final sigma, U+0130 → two chars)
  // while DuckDB's is the simple per-codepoint one — the pair would
  // diverge on any non-ASCII cased char. translate() has identical
  // semantics in both engines, so the parity holds on ARBITRARY text.
  private val asciiFoldSql =
    "translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"
  private val sparkTokSql =
    s"""SELECT DISTINCT doc_id, term FROM (
       |  SELECT doc_id, explode(split($asciiFoldSql, ' ')) AS term FROM documents) t
       |WHERE term <> ''""".stripMargin
  private val duckTokSql =
    s"""SELECT DISTINCT doc_id, term FROM (
       |  SELECT doc_id, unnest(string_split($asciiFoldSql, ' ')) AS term FROM documents) t
       |WHERE term <> ''""".stripMargin

  /** The shared TF-IDF core (A10/A11): `tok` → df/n/idf/v/nrm CTE
    * prefix, identical text in both dialects. ONE copy — tfidf_micro,
    * term_select, vocab_hits and the S11 term file all build on it, so
    * a smoothing/threshold change cannot silently diverge between them.
    * `idfKeepDf` carries the df column through (term_select re-reads it). */
  private def tfidfCtes(tok: String, idfKeepDf: Boolean = false): String = {
    val dfCol = if (idfKeepDf) "term, df, " else "term, "
    s"""WITH tok AS ($tok),
       |df AS (SELECT term, count(*) AS df FROM tok GROUP BY term),
       |n AS (SELECT count(*) AS n FROM documents),
       |idf AS (SELECT ${dfCol}ln((SELECT n FROM n) * 1.0 / df) + 1.0 AS idf FROM df),
       |v AS (SELECT t.doc_id, t.term, i.idf FROM tok t JOIN idf i ON t.term = i.term),
       |nrm AS (SELECT doc_id, sqrt(sum(idf * idf)) AS nrm FROM v GROUP BY doc_id)""".stripMargin
  }

  /** Max-tfidf-per-term CTE (A12 selection input) over the core. */
  private val tfidfMxCte =
    "mx AS (SELECT v.term, max(v.idf / m.nrm) AS mx FROM v JOIN nrm m ON v.doc_id = m.doc_id GROUP BY v.term)"

  /** Terms whose max tfidf ≥ `thresh` (A12 selection, term only).
    * Threshold compares MICRO-QUANTIZED values (round both engines
    * apply identically): Spark's partial aggregation and DuckDB's
    * stream order can associate the float sums differently, so a raw
    * `>= thresh` at a knife-edge value (e.g. a doc of exactly 4
    * equal-idf terms → tfidf exactly 0.5) could select a term in one
    * engine only — the same discipline elm_title_score documents. */
  private def termSelectOnlySql(tok: String, thresh: Double): String =
    s"""${tfidfCtes(tok)},
       |$tfidfMxCte
       |SELECT term FROM mx WHERE round(mx * 1000000, 0) >= ${math.round(thresh * 1e6)}""".stripMargin

  // ----------------------------------------------------------- UDF helpers

  private val crawlerDomainUdf = udf((u: String) => Canonicalize.crawlerDomain(u))
  private val extractorDomainUdf = udf((u: String) => Canonicalize.extractorDomain(u))

  // ----------------------------------------------------------- query table

  /** name → (spark fn, optional DuckDB oracle). */
  private case class Q(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Shared-dialect SQL: Spark runs the text, DuckDB runs Synth.duck(text). */
  private def shared(text: String): Q =
    Q((s, dir) => { reg(s, dir); s.sql(text) }, Some(Synth.duck(text)))

  /** Split-dialect SQL (explode/unnest style differences). */
  private def split2(sparkText: String, duckText: String): Q =
    Q((s, dir) => { reg(s, dir); s.sql(sparkText) }, Some(duckText))

  private def rowsOnly(fn: (SparkSession, String) => DataFrame): Q = Q(fn, None)

  private lazy val registry: Vector[(String, Q)] = Vector(

    // ---------------- S1/S2/S3/S7: seed scan, dispatch, filters, errors
    "s1_seed_scan" -> shared(withSeeds(
      "t AS (SELECT 1) SELECT seq, url FROM seeds")),

    "s2_s3_fetchable" -> shared(withSeeds(
      s"$fetchableCte SELECT seq, url FROM fetchable")),

    "s7_error_channel" -> shared(withSeeds(
      s"""t AS (SELECT 1)
         |SELECT seq, url,
         |  CASE WHEN lower(url) NOT LIKE 'http%' THEN 'skip this file(scheme)'
         |       ELSE 'skip this file' END AS err
         |FROM seeds WHERE NOT (${Synth.fetchableWhere})""".stripMargin)),

    // ---------------- S9/S10/S11: file-format sources, round-tripped
    // through real temp files and verified against the documents table
    "s9_title_scan" -> Q(
      (s, dir) => graft.sources.Titles.read(
        s, sourceFiles(s, dir).resolve("titles.txt").toString),
      Some(
        // trim set = Py_UNICODE_ISSPACE: Titles.read strips each line
        // like the reference's codecs-decoded unicode.strip()
        s"""SELECT cast(row_number() OVER (ORDER BY doc_id) - 1 as bigint) AS line_no,
           |  trim(substr(replace(replace(replace(text, chr(10), ' '), chr(13), ' '), chr(9), ' '), 1, 40),
           |       ${graft.py.Py.uniWhitespaceSql}) AS title
           |FROM documents""".stripMargin)),

    "s10_vector_scan" -> Q(
      (s, dir) => graft.sources.FeatureVectors.read(
          s, sourceFiles(s, dir).resolve("vectors.jsonl").toString)
        .select(
          element_at(col("vec"), 1).cast("long").as("doc_id"),
          size(col("vec")).cast("long").as("n_elems"),
          element_at(col("vec"), 2).cast("long").as("n_chars_v"),
          element_at(col("vec"), 3).cast("long").as("flag"),
          (element_at(col("vec"), 4) + element_at(col("vec"), 5) +
            element_at(col("vec"), 6)).cast("long").as("abc_sum")),
      Some(
        """SELECT doc_id, cast(6 as bigint) AS n_elems, n_chars AS n_chars_v,
          |  cast(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END as bigint) AS flag,
          |  cast(doc_id % 7 + doc_id % 11 + doc_id % 13 as bigint) AS abc_sum
          |FROM documents""".stripMargin)),

    "s11_term_file" -> Q(
      (s, dir) => {
        import s.implicits._
        val (idx, terms) = graft.tfidf.TermFile.read(
          sourceFiles(s, dir).resolve("tfidf2 30% term"))
        s.createDataset(Seq((idx.size.toLong,
            if (idx.isEmpty) -1L else idx.max.toLong,
            terms.size.toLong, terms.mkString(" "))))
          .toDF("n_indices", "max_idx", "n_terms", "terms_joined")
      },
      Some(
        s"""WITH sel AS (${termSelectOnlySql(duckTokSql, TermFileThreshold)})
           |SELECT count(*) AS n_indices, cast(count(*) - 1 as bigint) AS max_idx,
           |  count(*) AS n_terms,
           |  coalesce(string_agg(term, ' ' ORDER BY term), '') AS terms_joined
           |FROM sel""".stripMargin)),

    // ---------------- §1.3: both canonicalizers, Scala vs independent SQL
    "p_crawler_domain" -> Q(
      (s, dir) => {
        reg(s, dir)
        s.sql(withSeeds(s"$fetchableCte, $dedupCte SELECT seq, url FROM deduped"))
          .withColumn("host", crawlerDomainUdf(col("url")))
      },
      Some(Synth.duck(withSeeds(
        s"$fetchableCte, $dedupCte, $hostedCte SELECT seq, url, host FROM hosted")))),

    "p_extractor_domain" -> Q(
      (s, dir) => {
        reg(s, dir)
        s.sql(withSeeds(
          """t AS (SELECT 1)
            |SELECT seq, CASE WHEN seq % 3 = 0 THEN substr(url, instr(url, '//') + 2)
            |                 ELSE url END AS href FROM seeds""".stripMargin))
          .withColumn("domain", extractorDomainUdf(col("href")))
      },
      Some(Synth.duck(withSeeds(
        s"""hrefs AS (SELECT seq, CASE WHEN seq % 3 = 0 THEN substr(url, instr(url, '//') + 2)
           |                          ELSE url END AS href FROM seeds),
           |$extractorDomainCtes
           |SELECT seq, href, domain FROM edom""".stripMargin)))),

    // ---------------- dedup / seen-set (J: anti-join family)
    "j_dedup_first_seen" -> shared(withSeeds(
      s"""$fetchableCte
         |SELECT url, min(seq) AS first_seq, count(*) AS occurrences
         |FROM fetchable GROUP BY url""".stripMargin)),

    "seen_hash_set" -> shared(withSeeds(
      s"""$fetchableCte
         |SELECT count(DISTINCT md5(url)) AS seen_count, count(*) AS offered
         |FROM fetchable""".stripMargin)),

    // ---------------- robots.txt deny (parse+match in Scala vs SQL rule)
    "robots_filter" -> Q(
      (s, dir) => {
        val hv = hostedView(s, dir)
        val allowedUdf = udf { (host: String, url: String) =>
          graft.frontier.Robots.synthRulesCached(host)
            .isAllowed(graft.frontier.Robots.pathOf(url))
        }
        s.sql(s"SELECT seq, url, host FROM $hv")
          .withColumn("allowed", when(allowedUdf(col("host"), col("url")), 1).otherwise(0))
      },
      Some(Synth.duck(withSeeds(
        s"""$fetchableCte, $dedupCte, $hostedCte
           |SELECT seq, url, host,
           |  CASE WHEN length(host) % 3 = 0 AND substr(url, instr(url, '/p/') + 3, 1) = '3'
           |       THEN 0 ELSE 1 END AS allowed
           |FROM hosted""".stripMargin)))),

    // ---------------- politeness schedule + crawl order (window family)
    "w_politeness_schedule" -> Q(
      (s, dir) => {
        val hv = hostedView(s, dir)
        s.sql(
          s"""WITH ${allowedCte.replace("FROM hosted", s"FROM $hv")}, $scheduledCte
             |SELECT seq, url, priority, host, host_rank, tokens, wave FROM scheduled""".stripMargin)
      },
      Some(Synth.duck(withSeeds(
        s"""$fetchableCte, $dedupCte, $hostedCte, $allowedCte, $scheduledCte
           |SELECT seq, url, priority, host, host_rank, tokens, wave FROM scheduled""".stripMargin)))),

    "w_crawl_order" -> Q(
      (s, dir) => {
        val hv = hostedView(s, dir)
        // global crawl-order position WITHOUT a partitionless window
        // (one task's sort at scale): range-partitioned global sort +
        // zipWithIndex — the distributed form of row_number() OVER
        // (ORDER BY wave, priority, seq); seq is unique so the total
        // order (and thus every position) is deterministic
        import s.implicits._
        val base = s.sql(
          s"""WITH ${allowedCte.replace("FROM hosted", s"FROM $hv")}, $scheduledCte
             |SELECT seq, url, wave, priority FROM scheduled""".stripMargin)
        s.createDataset(
          base.sort("wave", "priority", "seq")
            .select(col("seq").cast("long"), col("url"), col("wave").cast("int"))
            .as[(Long, String, Int)].rdd
            .zipWithIndex()
            .map { case ((seq, url, wave), i) => (seq, url, wave, i + 1) })
          .toDF("seq", "url", "wave", "position")
      },
      Some(Synth.duck(withSeeds(
        s"""$fetchableCte, $dedupCte, $hostedCte, $allowedCte, $scheduledCte
           |SELECT seq, url, wave,
           |  cast(row_number() OVER (ORDER BY wave, priority, seq) as bigint) AS position
           |FROM scheduled""".stripMargin)))),

    // ---------------- the LIVE engine vs the static SQL schedule
    "crawl_engine_waves" -> Q(
      (s, dir) => crawlStore(s, dir, discover = false).readLatest("frontier").get
        .where(col("state").isin("done", "error"))
        .select(col("seq"), col("url"), col("wave").cast("int").as("wave")),
      Some(Synth.duck(withSeeds(
        s"""$fetchableCte, $dedupCte, $hostedCte, $allowedCte, $scheduledCte
           |SELECT seq, url, wave FROM scheduled""".stripMargin)))),

    "crawl_engine_seen" -> Q(
      (s, dir) => crawlStore(s, dir, discover = false).readLatest("seen").get
        .agg(count(lit(1)).as("seen_count")),
      Some(Synth.duck(withSeeds(
        s"""$fetchableCte, $dedupCte, $hostedCte, $allowedCte
           |SELECT count(*) AS seen_count FROM allowed""".stripMargin)))),

    // ---------------- frontier GROWTH (§2.7 discovered URLs): the live
    // engine with discovery on vs a full SQL replica of the outlink
    // rules (md5-portable, NetSynth.link*Sql), frontier anti-join,
    // sorted seq assignment and the generation-1 politeness schedule.
    // Every discovered URL is absent from the pages table, so its
    // terminal state is the fetch-miss error — also SQL-derivable.
    "crawl_discovery" -> Q(
      (s, dir) => {
        reg(s, dir)
        val maxSeed = Fixtures.seeds(s, dir).agg(max("seq")).head.getLong(0)
        crawlStore(s, dir, discover = true).readLatest("frontier").get
          .where(col("seq") > maxSeed)
          .select(col("seq"), col("url"), col("state"),
            col("wave").cast("int").as("wave"))
      },
      Some(Synth.duck(withSeeds(
        s"""$fetchableCte, $dedupCte, $hostedCte, $allowedCte, $scheduledCte,
           |pg AS (SELECT url, host FROM allowed WHERE NOT ${NetSynth.fetchMissSql("url")}),
           |ii AS (SELECT unnest(generate_series(0, 4)) AS i),
           |cand AS (SELECT p.url, p.host, ii.i FROM pg p, ii
           |         WHERE ii.i < 2 + ${NetSynth.linkCountSql("p.url")}),
           |lk AS (SELECT url, host, i,
           |         ${NetSynth.linkKindSql("url", "i")} AS kind,
           |         ${NetSynth.linkExtSql("url", "i")} AS ext FROM cand),
           |links AS (SELECT
           |    CASE WHEN kind = 0 THEN 'http://' || host || '/page' || cast(i as string) || '.html'
           |         WHEN kind = 1 THEN 'http://ext' || cast(ext as string) || '.example.org/x' || cast(i as string)
           |    END AS url,
           |    CASE WHEN kind = 0 THEN host
           |         ELSE 'ext' || cast(ext as string) || '.example.org' END AS dhost
           |  FROM lk WHERE kind <= 1),
           |newu AS (SELECT url, min(dhost) AS host FROM links
           |         WHERE url NOT IN (SELECT url FROM seeds) GROUP BY url),
           |disc AS (SELECT (SELECT max(seq) FROM seeds) + row_number() OVER (ORDER BY url) AS seq,
           |                url, host FROM newu),
           |dallow AS (SELECT seq, url, host FROM disc
           |  WHERE NOT (length(host) % 3 = 0 AND substr(url, instr(url, '/p/') + 3, 1) = '3')),
           |dsch AS (SELECT seq, url, host,
           |    cast(row_number() OVER (PARTITION BY host ORDER BY seq) as int) AS host_rank,
           |    greatest(cast(1 as bigint), cast(floor($WavePeriodMs / ((length(host) % 4 + 1) * 100)) as bigint)) AS tokens
           |  FROM dallow)
           |SELECT seq, url, 'error' AS state,
           |  cast((SELECT max(wave) FROM scheduled) + 1
           |       + floor((host_rank - 1.0) / tokens) as int) AS wave
           |FROM dsch""".stripMargin)))),

    // ---------------- URL features (§2.6), Scala vs independent SQL
    "url_features" -> Q(
      (s, dir) => {
        reg(s, dir)
        val uf = udf((url: String) => {
          val v = graft.features.UrlFeatures.extract(url)
          (v(0).toInt, v(1).toInt, v(2).toInt, v(3).toInt, v(4).toInt)
        })
        s.sql(withSeeds(s"$fetchableCte SELECT seq, url FROM fetchable"))
          .withColumn("t", uf(col("url")))
          .select(col("seq"), col("url"),
            col("t._1").as("is_http_connection"), col("t._2").as("is_ip_address"),
            col("t._3").as("dots"), col("t._4").as("is_special_words"),
            col("t._5").as("is_hexadecimal"))
      },
      Some(Synth.duck(withSeeds(
        s"""$fetchableCte,
           |hrefs AS (SELECT seq, url AS href FROM fetchable),
           |$extractorDomainCtes,
           |base AS (SELECT e.seq, e.href AS url, e.domain,
           |  CASE WHEN instr(e.href, '?') > 1 THEN substr(e.href, 1, instr(e.href, '?') - 1) ELSE e.href END AS wo
           |  FROM edom e)
           |SELECT seq, url,
           |  CASE WHEN substr(url, 1, 5) <> 'https' THEN 1 ELSE 0 END AS is_http_connection,
           |  CASE WHEN regexp_full_match(domain, '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}') THEN 1 ELSE 0 END AS is_ip_address,
           |  cast(length(domain) - length(replace(domain, '.', '')) as int) AS dots,
           |  CASE WHEN instr(wo, '@') > 0 OR instr(wo, '-') > 0 OR instr(wo, '*') > 0 OR instr(wo, '|') > 0
           |       THEN 1 ELSE 0 END AS is_special_words,
           |  CASE WHEN instr(domain, '%') > 0 THEN 1 ELSE 0 END AS is_hexadecimal
           |FROM base""".stripMargin)))),

    // ---------------- URL features of sets 1/2s/3/4 (§2.6), Scala vs SQL
    "url_features_sets" -> Q(
      (s, dir) => {
        reg(s, dir)
        // the three set-3 features read here, resolved once, not per row;
        // the rest of set 3 (the brand-typo scan, the TLD count) is not run
        val f3 = graft.features.UrlFeatureSets.set3Features.toMap
        val pathDomLen = f3("get_path_domain_length")
        val brand = f3("get_brandname")
        val longUrl = f3("get_long_url")
        val uf = udf((url: String) => {
          val s1 = graft.features.UrlFeatureSets.set1(url)
          val s2 = graft.features.UrlFeatureSets.set2s(url)
          val s4 = graft.features.UrlFeatureSets.set4(url)
          (s1(0).toInt, s2(1).toInt, s2(3).toInt, s4(3).toInt,
            pathDomLen(url).toInt, brand(url).toInt, longUrl(url).toInt)
        })
        s.sql(withSeeds(s"$fetchableCte SELECT seq, url FROM fetchable"))
          .withColumn("t", uf(col("url")))
          .select(col("seq"), col("url"),
            col("t._1").as("is_long_url"), col("t._2").as("dots3"),
            col("t._3").as("url_length3"), col("t._4").as("is_slashes"),
            col("t._5").as("path_domain_length"), col("t._6").as("brandname"),
            col("t._7").as("long_domain"))
      },
      Some(Synth.duck(withSeeds(
        s"""$fetchableCte,
           |hrefs AS (SELECT seq, url AS href FROM fetchable),
           |$extractorDomainCtes,
           |base AS (SELECT seq, href AS url, domain,
           |  length(domain) - length(replace(domain, '.', '')) AS dots,
           |  substr(href, instr(href, '//') + 2) AS rest
           |  FROM edom)
           |SELECT seq, url,
           |  CASE WHEN length(url) >= 127 THEN 1 ELSE 0 END AS is_long_url,
           |  CASE WHEN dots < 2 THEN 1 WHEN dots = 2 THEN 0 ELSE -1 END AS dots3,
           |  CASE WHEN length(url) < 54 THEN 1 WHEN length(url) > 75 THEN 0 ELSE -1 END AS url_length3,
           |  CASE WHEN instr(rest, '/') > 1 THEN 1 ELSE 0 END AS is_slashes,
           |  CASE WHEN instr(rest, '/') > 0 THEN length(rest) - instr(rest, '/') ELSE 0 END AS path_domain_length,
           |  CASE WHEN ${UrlSqlHelpers.brandOr("domain")} THEN 1 ELSE 0 END AS brandname,
           |  CASE WHEN length(domain) > 25 THEN 1 ELSE 0 END AS long_domain
           |FROM base""".stripMargin)))),

    // ---------------- full extraction (rows-only: the vector itself is
    // pure-Scala reference semantics; FeatureSpec holds the per-feature
    // goldens). Output is SCALAR columns (the driver's pandas compare
    // cannot sort array cells): vector length + a 64-bit fold of the
    // micro-rounded features.
    "extract_features_full" -> rowsOnly((s, dir) => {
      import s.implicits._
      Fixtures.pages(s, dir)
        .filter((p: graft.model.PageRow) => p.text != null)
        .map { p =>
          val asOf = p.warc_ts.toInstant.getEpochSecond
          val v = ExtractorSet5.extract(p.text, ExtractConfig(asOf))
          var h = 1125899906842597L
          var i = 0
          while (i < v.length) {
            h = 31 * h + java.lang.Long.hashCode(math.rint(v(i) * 1e6).toLong)
            i += 1
          }
          (p.url, v.length.toLong, h)
        }.toDF("url", "n_features", "features_hash64")
    }),

    // byte identity vs the golden `text` column, as ORACLE-ABLE counts:
    // n_checked is SQL-derivable (distinct fetchable urls minus the
    // md5-rule fetch misses, NetSynth.fetchMissSql) and the render
    // invariant's expectation is exactly zero mismatches.
    "byte_identity" -> Q(
      (s, dir) => {
        import s.implicits._
        Fixtures.pages(s, dir).map { p =>
          val content = CharsetDecode.decode(p.html, Some("utf-8"))
          val synth = NetSynth.forUrl(p.url)
          val rendered =
            if (p.text == null) null
            else SampleRender.render(p.url, content, synth.net)
          (1L, if (p.text != null && rendered != p.text) 1L else 0L)
        }.toDF("checked", "mismatch")
          .agg(sum("checked").as("n_checked"), sum("mismatch").as("n_mismatch"))
      },
      Some(Synth.duck(withSeeds(
        s"""$fetchableCte,
           |u AS (SELECT DISTINCT url FROM fetchable)
           |SELECT count(*) AS n_checked, cast(0 as bigint) AS n_mismatch
           |FROM u WHERE NOT ${NetSynth.fetchMissSql("url")}""".stripMargin)))),

    // S8 FTP fetch (spider.py:103-161): every distinct ftp: seed URL
    // (image extensions included — the ext skip lives in the reference's
    // http branch) through the ENGINE's dispatch (CrawlWave.fetchOutcome
    // FTP branch: utf-8/replace decode, no liveness, NSLOOKUP/HOST/WHOIS
    // + content + TIMER render) checked byte-identical against the
    // golden FTP text; counts are SQL-derivable like `byte_identity`.
    "s8_ftp_fetch" -> Q(
      (s, dir) => {
        import s.implicits._
        Fixtures.pages(s, dir, includeFtp = true)
          .filter((p: graft.model.PageRow) => p.url.regionMatches(true, 0, "ftp:", 0, 4))
          .map { p =>
            val out = CrawlWave.fetchOutcome(CrawlWave.FetchRow(
              0L, p.url, Canonicalize.crawlerDomain(p.url), 0, 0L,
              Some(p.warc_ts), Some(p.html),
              Some(CrawlWave.hashText(p.text))))
            (1L, if (out.ok && out.render_match) 0L else 1L)
          }.toDF("checked", "mismatch")
          .agg(sum("checked").as("n_checked"), sum("mismatch").as("n_mismatch"))
      },
      Some(Synth.duck(withSeeds(
        s"""ftpu AS (SELECT DISTINCT url FROM seeds WHERE ${Synth.ftpWhere})
           |SELECT count(*) AS n_checked, cast(0 as bigint) AS n_mismatch
           |FROM ftpu WHERE NOT ${NetSynth.fetchMissSql("url")}""".stripMargin)))),

    // ---------------- non-HTML block features (§2.6 HEADER/HOST/
    // NSLOOKUP/WHOIS/TIMER/CYCLING), previously spec-only behind the
    // rows-only extract_features_full: per-URL scalar columns through
    // the REAL parse path (golden text → Blocks.splitText → the block
    // extractors), oracled by an independent DuckDB replica of the
    // NetSynth branch rules over the urlSeed hash recomputed in SQL
    // (NetSynth.urlSeedCtesSql — HUGEINT mod-2^64 splitmix64).
    // Reference semantics: extractors5/header_feature.py:40-49 (OR-
    // merged status//100==3 over all HEADER blocks incl. redirect
    // re-walk hops), host_feature.py:10-24 (IPv4/IPv6 row counts),
    // nslookup_feature.py:11-60 (alias set, bound-method weird-serial
    // quirk, day age vs a fixed asOf), whois_feature.py:5-44,
    // timer_feature.py:4-9 (micro-rounded), cycling_feature.py:4-9
    // (distinct line count of the warning block; absent block → 0).
    "net_features" -> Q(
      (s, dir) => {
        import s.implicits._
        Fixtures.pages(s, dir)
          .filter((p: graft.model.PageRow) => p.text != null)
          .map { p =>
            val bd = graft.parse.Blocks.splitText(p.text)
            def bs(k: String) = bd.blocks.getOrElse(k, Vector.empty)
            val hdr = graft.features.HeaderFeatures.extract(bs("header"))
            val host = graft.features.HostFeatures.extract(bs("host"))
            val ns = graft.features.NslookupFeatures.extract(bs("nslookup"), NetAsOfEpoch)
            val who = graft.features.WhoisFeatures.extract(bs("whois"))
            val tim = graft.features.TimerFeatures.extract(bs("timer"))
            val cyc = graft.features.CyclingFeatures.extract(bs("cycling"))
            (p.url, hdr(0).toInt, host(0).toInt, host(1).toInt,
              ns(0).toInt, ns(1).toInt, ns(2).toInt, who(0).toInt,
              math.rint(tim(0) * 1e6).toLong, cyc(0).toInt)
          }.toDF("url", "header_is_redirect", "host_ipv4", "host_ipv6",
            "ns_is_alias", "ns_weird_serial", "ns_day_age", "whois_ok",
            "timer_micro", "cycling_lines")
      },
      Some(Synth.duck(withSeeds(
        s"""$fetchableCte,
           |u AS (SELECT DISTINCT url FROM fetchable WHERE NOT ${NetSynth.fetchMissSql("url")}),
           |${NetSynth.urlSeedCtesSql},
           |hb AS (SELECT url, h, ${NetSynth.floorModSql("h", 100)} AS hm FROM hseed),
           |live AS (SELECT url, h FROM hb WHERE ${NetSynth.liveSql("hm")}),
           |f AS (SELECT url,
           |  ${NetSynth.floorModSql("h", 26)} AS p26, ${NetSynth.floorModSql("h", 13)} AS p13,
           |  ${NetSynth.floorModSql("h", 2)} AS p2, ${NetSynth.floorModSql("h", 6)} AS p6,
           |  ${NetSynth.floorModSql("h", 3)} AS p3, ${NetSynth.floorModSql("h", 4)} AS p4,
           |  ${NetSynth.floorModSql("h", 5)} AS p5,
           |  ${NetSynth.floorModSql("h", 8)} AS py,
           |  ${NetSynth.floorModSql(NetSynth.asrSql("h", 8), 12)} AS pmo,
           |  ${NetSynth.floorModSql(NetSynth.asrSql("h", 16), 28)} AS pd,
           |  ${NetSynth.floorModSql("h", 200000000)} AS pep,
           |  ${NetSynth.floorModSql("h", 100000)} AS ptm
           |  FROM live)
           |SELECT url,
           |  CASE WHEN p26 = 0 OR p13 = 0 THEN 1 ELSE 0 END AS header_is_redirect,
           |  cast(1 + (CASE WHEN p2 = 0 THEN 1 ELSE 0 END) as int) AS host_ipv4,
           |  CASE WHEN p6 < 2 THEN 1 ELSE 0 END AS host_ipv6,
           |  CASE WHEN p3 = 0 THEN 1 ELSE 0 END AS ns_is_alias,
           |  CASE WHEN p4 = 2 THEN 1 ELSE 0 END AS ns_weird_serial,
           |  cast(CASE WHEN p4 = 0 THEN date_diff('day', make_date(cast(2010 + py as int), cast(1 + pmo as int), cast(1 + pd as int)), DATE '2025-09-01')
           |            WHEN p4 = 1 THEN
           |              -- a 10-digit epoch serial whose digits 5-6 read as a
           |              -- month (01-12) and 7-8 as a day (01-32) matches the
           |              -- reference's DATE regex first and parses as a year-
           |              -- 12xx/13xx date, whose day count trips the
           |              -- days >= epochDays clamp -> 0 (nslookup_feature.py:44-57)
           |              CASE WHEN cast(substr(cast(1200000000 + pep as varchar), 5, 2) as int) BETWEEN 1 AND 12
           |                    AND cast(substr(cast(1200000000 + pep as varchar), 7, 2) as int) BETWEEN 1 AND 32
           |                   THEN 0
           |                   ELSE (1756684800 - (1200000000 + pep)) // 86400 END
           |            ELSE 0 END as int) AS ns_day_age,
           |  CASE WHEN p5 = 0 THEN 0 ELSE 1 END AS whois_ok,
           |  cast(ptm * 1000 as bigint) AS timer_micro,
           |  cast(CASE WHEN p26 = 0 THEN 3 ELSE 0 END as int) AS cycling_lines
           |FROM f""".stripMargin)))),

    // ---------------- HTML block features (§2.6 A1-A7/A9) — the last
    // previously-spec-only legs behind extract_features_full's
    // no_oracle row: per-URL scalar columns through the REAL parse
    // path (golden text → Blocks.splitText → buildState + __add__
    // absorb → the extractors5 rate functions), oracled by an
    // independent DuckDB replica that re-derives every tag count, row
    // count and striped byte length CLOSED-FORM from the NetSynth
    // body-construction rules — the same urlSeed/md5 branch replica
    // that made net_features oracle-able (each <a>/<img>/<script>/
    // <style>/<form> row of the synthesized body is a deterministic
    // function of the URL; see NetSynth.forUrlImpl and the length
    // constants below). Redirect-history pages carry 2-3 identical
    // HTTP blocks (SampleRender re-walk quirk), so the A9 multi-block
    // merge monoid is live in this oracle, not just spec-tested.
    // Reference semantics: extractors5/http_feature.py:304-452 (rate
    // features), :157-184 (striped rows/bytes, tag-block row counts),
    // :532-549 (__add__ merge).
    "html_features" -> Q(
      (s, dir) => {
        import s.implicits._
        Fixtures.pages(s, dir)
          .filter((p: graft.model.PageRow) => p.text != null)
          .map { p =>
            val bd = graft.parse.Blocks.splitText(p.text)
            val http = bd.blocks.getOrElse("http", Vector.empty)
            import graft.features.HttpFeatures._
            val st = http.map(buildState).reduce((prev, cur) => cur.absorb(prev))
            val pageDomain = Canonicalize.extractorDomain(graft.py.Py.rstrip(p.url))
            def micro(x: Double): Long = math.rint(x * 1e6).toLong
            (p.url, st.bytes.toLong, st.totalRows, st.scriptBlockRows,
              st.styleBlockRows, st.aTags.size,
              micro(externalATagSameDomain(st, pageDomain)),
              micro(nullATag(st)),
              micro(if (st.totalRows > 0) st.scriptBlockRows.toDouble / st.totalRows else 0.0),
              micro(if (st.totalRows > 0) st.styleBlockRows.toDouble / st.totalRows else 0.0),
              micro(sameExternalDomainLinkRate(st, pageDomain)),
              micro(sameExternalDomainImgRate(st, pageDomain)),
              micro(sameExternDomainScriptRate(st, pageDomain)))
          }.toDF("url", "striped_bytes", "total_rows", "script_rows",
            "style_rows", "a_tags", "ext_a_micro", "null_a_micro",
            "script_block_rate_micro", "style_block_rate_micro",
            "link_rate_micro", "img_rate_micro", "script_rate_micro")
      },
      Some(Synth.duck(withSeeds(
        // Closed-form replica of the synthesized body's striped-row
        // accounting (NetSynth.forUrlImpl:178-218). Per live URL:
        //  - 16 constant rows (html/head, title, css link, icon link,
        //    4 style rows, head/body, 2 imgs, script src, script open,
        //    `var t = 1;`, script close, body/html close — the
        //    comment-only row is DROPPED by __striped_html_str);
        //  - asset-tag kind branches (md5 digits 3-7, NetSynth
        //    cssKind/iconKind/img1Kind/img2Kind/scriptKind): css link
        //    60 ch ext / 44+dlen same-domain / 37 relative; icon link
        //    54 ext / 37 relative; img1 41 ext / 20 relative; img2
        //    22 relative / 41 ext; script src 53 ext / 35 relative /
        //    39+dlen same-domain — these drive the A3/A4/A5 rate
        //    features across their operating points (link 0/.5/1,
        //    img 0/.5/1, script 0/.5 — externals share one host per
        //    tag family, so max-per-domain = external count);
        //  - optional rows by urlSeed branch: meta refresh (h%11=0,
        //    69 ch), base64 refresh (h%31=0, 75 ch), iframe (h%7=0,
        //    52 ch), form block + its getElementById script row
        //    (h%5=0, 6 rows, 202+dlen ch), document.write row
        //    (h%6=0, 34 ch);
        //  - 2+md5%4 <a> rows (21+href chars: kind 0 same-domain
        //    18+dlen — ALWAYS internal, crawler vs extractor
        //    canonicalizers agree on every synthesized URL shape;
        //    kind 1 external ext{0..6}.example.org 26; kind 2
        //    relative 11; kind 3 '#' 1; kind 4 javascript 19; kinds
        //    2-4 canonicalize to '.', kinds 3-4 are the null hrefs);
        //  - constant char sum 162+dlen (+ the asset branch terms
        //    above), +rows-1 joining newlines;
        //  - the whole block ×1/2/3 for the redirect-history HTTP
        //    block multiplicity (h%26=0 → cycle → 3, h%13=0 → 2).
        s"""$fetchableCte,
           |u AS (SELECT DISTINCT url FROM fetchable WHERE NOT ${NetSynth.fetchMissSql("url")}),
           |${NetSynth.urlSeedCtesSql},
           |hb AS (SELECT url, h, ${NetSynth.floorModSql("h", 100)} AS hm FROM hseed),
           |c0 AS (SELECT url FROM hb WHERE ${NetSynth.liveSql("hm")}),
           |k0 AS (SELECT url, substr(url, instr(url, '//') + 2) AS d0 FROM c0),
           |k1 AS (SELECT url, CASE WHEN instr(d0, '/') > 0 THEN substr(d0, 1, instr(d0, '/') - 1)
           |                        WHEN instr(d0, '?') > 0 THEN substr(d0, 1, instr(d0, '?') - 1)
           |                        ELSE d0 END AS d1 FROM k0),
           |k2 AS (SELECT url, CASE WHEN instr(d1, '@') > 0 THEN substr(d1, instr(d1, '@') + 1) ELSE d1 END AS d2 FROM k1),
           |kd AS (SELECT url, CASE WHEN instr(d2, ':') > 0 THEN regexp_replace(d2, ':[^:]*$$', '') ELSE d2 END AS dom FROM k2),
           |f AS (SELECT hb.url, length(kd.dom) AS dlen,
           |  ${NetSynth.floorModSql("hb.h", 5)} AS p5, ${NetSynth.floorModSql("hb.h", 6)} AS p6,
           |  ${NetSynth.floorModSql("hb.h", 7)} AS p7, ${NetSynth.floorModSql("hb.h", 11)} AS p11,
           |  ${NetSynth.floorModSql("hb.h", 31)} AS p31, ${NetSynth.floorModSql("hb.h", 13)} AS p13,
           |  ${NetSynth.floorModSql("hb.h", 26)} AS p26,
           |  (${NetSynth.md5DigitSql("hb.url", 3)} % 3) AS css_k,
           |  (${NetSynth.md5DigitSql("hb.url", 4)} % 2) AS icon_k,
           |  (${NetSynth.md5DigitSql("hb.url", 5)} % 2) AS img1_k,
           |  (${NetSynth.md5DigitSql("hb.url", 6)} % 2) AS img2_k,
           |  (${NetSynth.md5DigitSql("hb.url", 7)} % 3) AS script_k,
           |  2 + ${NetSynth.linkCountSql("hb.url")} AS nlinks
           |  FROM hb JOIN kd ON hb.url = kd.url WHERE ${NetSynth.liveSql("hb.hm")}),
           |lk AS (SELECT f.url, f.dlen, t.i,
           |         ${NetSynth.linkKindSql("f.url", "t.i")} AS kind,
           |         ${NetSynth.linkExtSql("f.url", "t.i")} AS ext
           |       FROM f CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i) t
           |       WHERE t.i < f.nlinks),
           |la AS (SELECT url,
           |         sum(21 + CASE kind WHEN 0 THEN 18 + dlen WHEN 1 THEN 26
           |                            WHEN 2 THEN 11 WHEN 3 THEN 1 ELSE 19 END) AS link_bytes,
           |         sum(CASE WHEN kind IN (3, 4) THEN 1 ELSE 0 END) AS nnull
           |       FROM lk GROUP BY url),
           |em AS (SELECT url, max(c) AS mx FROM (
           |         SELECT url, ext, count(*) AS c FROM lk WHERE kind = 1 GROUP BY url, ext) q
           |       GROUP BY url),
           |g AS (SELECT f.url, f.nlinks, f.dlen,
           |        CASE WHEN f.p26 = 0 THEN 3 WHEN f.p13 = 0 THEN 2 ELSE 1 END AS nb,
           |        CASE WHEN f.p11 = 0 THEN 1 ELSE 0 END AS m11,
           |        CASE WHEN f.p31 = 0 THEN 1 ELSE 0 END AS m31,
           |        CASE WHEN f.p7 = 0 THEN 1 ELSE 0 END AS m7,
           |        CASE WHEN f.p5 = 0 THEN 1 ELSE 0 END AS m5,
           |        CASE WHEN f.p6 = 0 THEN 1 ELSE 0 END AS m6,
           |        CASE f.css_k WHEN 0 THEN 60 WHEN 1 THEN 44 + f.dlen ELSE 37 END
           |          + CASE f.icon_k WHEN 0 THEN 54 ELSE 37 END
           |          + CASE f.img1_k WHEN 0 THEN 41 ELSE 20 END
           |          + CASE f.img2_k WHEN 0 THEN 22 ELSE 41 END
           |          + CASE f.script_k WHEN 0 THEN 53 WHEN 1 THEN 35 ELSE 39 + f.dlen END AS asset_bytes,
           |        (CASE WHEN f.css_k = 0 THEN 1 ELSE 0 END) + (CASE WHEN f.icon_k = 0 THEN 1 ELSE 0 END) AS link_ext,
           |        (CASE WHEN f.img1_k = 0 THEN 1 ELSE 0 END) + (CASE WHEN f.img2_k = 1 THEN 1 ELSE 0 END) AS img_ext,
           |        CASE WHEN f.script_k = 0 THEN 1 ELSE 0 END AS script_ext,
           |        la.link_bytes, la.nnull, coalesce(em.mx, 0) AS mx
           |      FROM f JOIN la ON f.url = la.url LEFT JOIN em ON f.url = em.url),
           |t AS (SELECT url, nlinks, nb, mx, nnull, link_ext, img_ext, script_ext,
           |        16 + m11 + m31 + m7 + 6 * m5 + m6 + nlinks AS rows_b,
           |        4 + m5 + m6 AS srows_b,
           |        162 + dlen + 69 * m11 + 75 * m31 + 52 * m7 + (202 + dlen) * m5 + 34 * m6 + link_bytes + asset_bytes AS len_b
           |      FROM g)
           |SELECT url,
           |  cast(nb * (len_b + rows_b - 1) as bigint) AS striped_bytes,
           |  cast(nb * rows_b as int) AS total_rows,
           |  cast(nb * srows_b as int) AS script_rows,
           |  cast(nb * 4 as int) AS style_rows,
           |  cast(nb * nlinks as int) AS a_tags,
           |  cast(round(CAST(nb * mx AS DOUBLE) / (nb * nlinks) * 1000000, 0) as bigint) AS ext_a_micro,
           |  cast(round(CAST(nb * nnull AS DOUBLE) / (nb * nlinks) * 1000000, 0) as bigint) AS null_a_micro,
           |  cast(round(CAST(nb * srows_b AS DOUBLE) / (nb * rows_b) * 1000000, 0) as bigint) AS script_block_rate_micro,
           |  cast(round(CAST(nb * 4 AS DOUBLE) / (nb * rows_b) * 1000000, 0) as bigint) AS style_block_rate_micro,
           |  cast(round(CAST(nb * link_ext AS DOUBLE) / (nb * 2) * 1000000, 0) as bigint) AS link_rate_micro,
           |  cast(round(CAST(nb * img_ext AS DOUBLE) / (nb * 2) * 1000000, 0) as bigint) AS img_rate_micro,
           |  cast(round(CAST(nb * script_ext AS DOUBLE) / (nb * 2) * 1000000, 0) as bigint) AS script_rate_micro
           |FROM t""".stripMargin)))),

    // ---------------- TF-IDF family (§2.4 A10-A13, §3.3)
    "tok_terms" -> split2(sparkTokSql, duckTokSql),

    "term_df" -> {
      def text(tok: String) =
        s"SELECT term, count(*) AS df FROM (\n$tok) u\nGROUP BY term"
      split2(text(sparkTokSql), text(duckTokSql))
    },

    "tfidf_micro" -> {
      def text(tok: String) =
        s"""${tfidfCtes(tok)}
           |SELECT v.doc_id, v.term,
           |  cast(round(v.idf / m.nrm * 1000000, 0) as bigint) AS tfidf_micro
           |FROM v JOIN nrm m ON v.doc_id = m.doc_id""".stripMargin
      split2(text(sparkTokSql), text(duckTokSql))
    },

    "term_select" -> {
      def text(tok: String) =
        s"""${tfidfCtes(tok, idfKeepDf = true)},
           |$tfidfMxCte
           |SELECT x.term, d.df FROM mx x JOIN df d ON x.term = d.term
           |WHERE round(x.mx * 1000000, 0) >= 500000""".stripMargin
      split2(text(sparkTokSql), text(duckTokSql))
    },

    // J1: title terms × vocabulary membership (broadcast join shape)
    "vocab_hits" -> {
      def text(tok: String) =
        s"""${tfidfCtes(tok)},
           |sel AS (SELECT v.term FROM v JOIN nrm m ON v.doc_id = m.doc_id GROUP BY v.term HAVING round(max(v.idf / m.nrm) * 1000000, 0) >= 500000)
           |SELECT t.doc_id, count(*) AS vocab_hits FROM tok t JOIN sel s ON t.term = s.term GROUP BY t.doc_id""".stripMargin
      split2(text(sparkTokSql), text(duckTokSql))
    },

    // ---------------- dedup family (pipeline ops)
    "dedup_exact" -> shared(
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents GROUP BY 1""".stripMargin),

    // Exact pairwise 5-gram Jaccard, the verifier behind the sketch
    // candidates. Callers bound the input (here the doc_id % 50 slice):
    // the gram self-join is quadratic in per-gram frequency, so a full
    // corpus would blow up on common grams.
    "dedup_ngram_jaccard" -> split2(
      """WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |g AS (SELECT DISTINCT doc_id, substr(text, i, 5) AS gram
        |      FROM sub LATERAL VIEW explode(sequence(1, greatest(length(text) - 4, 1))) sq AS i),
        |sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |  cast(round(inter * 1000000.0 / (sa.sz + sb.sz - inter), 0) as bigint) AS jaccard_micro
        |FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id""".stripMargin,
      """WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |x AS (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i FROM sub),
        |g AS (SELECT DISTINCT doc_id, substr(text, i, 5) AS gram FROM x),
        |sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT a_id, b_id,
        |  cast(round(inter * 1000000.0 / (sa.sz + sb.sz - inter), 0) as bigint) AS jaccard_micro
        |FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id""".stripMargin),

    // MinHash+LSH with the md5 signature (16 hashes = 4×4 bands): the
    // oracle recomputes the same signatures, the same
    // shared-full-band candidate rule and the same slot-agreement
    // estimate in DuckDB — deterministic equality, not a recall bound.
    "dedup_minhash_lsh" -> Q(
      (s, dir) => {
        reg(s, dir)
        Dedup.minhashLshPairs(s.table("documents"), threshold = 0.3)
      },
      Some {
        val sigCols = (0 until 16).map(j =>
          s"max(CASE WHEN j = $j THEN sig END) AS s$j").mkString(",\n  ")
        val eq = (0 until 16).map(j =>
          s"(CASE WHEN a.s$j = b.s$j THEN 1 ELSE 0 END)").mkString(" + ")
        val cand = (0 until 4).map { b =>
          (0 until 4).map(r => s"a.s${4 * b + r} = b.s${4 * b + r}").mkString("(", " AND ", ")")
        }.mkString(" OR ")
        s"""WITH x AS (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i FROM documents),
           |g AS (SELECT DISTINCT doc_id, substr(text, i, 5) AS gram FROM x),
           |hj AS (SELECT unnest(generate_series(0, 15)) AS j),
           |m AS (SELECT doc_id, j, min(md5(j || ':' || gram)) AS sig FROM g, hj GROUP BY 1, 2),
           |sv AS (SELECT doc_id,
           |  $sigCols
           |FROM m GROUP BY 1),
           |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |        $eq AS eq,
           |        CASE WHEN $cand THEN 1 ELSE 0 END AS cand
           |      FROM sv a JOIN sv b ON a.doc_id < b.doc_id)
           |SELECT a_id, b_id, cast(eq * 62500 as bigint) AS est_jaccard_micro
           |FROM p WHERE cand = 1 AND eq >= 5""".stripMargin
      }),

    // SimHash at maxHamming=3, where the 4×16-bit banding is provably
    // exact (pigeonhole) — and with the md5 per-token hash, so
    // DuckDB recomputes the very fingerprints and the oracle is the
    // plain all-pairs Hamming filter (sound AND complete).
    "dedup_simhash" -> Q(
      (s, dir) => {
        reg(s, dir)
        // token-LESS docs (empty/whitespace text) are excluded like the
        // oracle's tn CTE: simhash gives them all-zero signatures that
        // pair every empty doc with every other at hamming 0, which is
        // exact-dedup's job, not a near-dup signal
        Dedup.simhashPairs(
          s.table("documents")
            .where(expr("size(filter(split(text, ' '), w -> w <> '')) > 0")),
          maxHamming = 3)
          .select(col("a_id"), col("b_id"), col("hamming").cast("long").as("hamming"))
      },
      Some(
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          |tn AS (SELECT doc_id, md5(token) AS hex FROM tok WHERE token <> ''),
          |bb AS (SELECT unnest(generate_series(0, 63)) AS bit),
          |bits AS (
          |  SELECT doc_id, bit,
          |    CASE WHEN ((strpos('0123456789abcdef', substr(hex, (bit // 4) + 1, 1)) - 1) >> (bit % 4)) & 1 = 1
          |         THEN 1 ELSE -1 END AS w
          |  FROM tn, bb),
          |cnt AS (SELECT doc_id, bit, sum(w) AS c FROM bits GROUP BY 1, 2),
          |bands AS (
          |  SELECT doc_id, bit // 16 AS band,
          |    sum(CASE WHEN c > 0 THEN (1 << (bit % 16)) ELSE 0 END) AS key
          |  FROM cnt GROUP BY 1, 2),
          |fp AS (
          |  SELECT doc_id,
          |    max(CASE WHEN band = 0 THEN key END) AS k0,
          |    max(CASE WHEN band = 1 THEN key END) AS k1,
          |    max(CASE WHEN band = 2 THEN key END) AS k2,
          |    max(CASE WHEN band = 3 THEN key END) AS k3
          |  FROM bands GROUP BY 1)
          |SELECT a_id, b_id, hamming FROM (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          |    cast(bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1)) +
          |         bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) as bigint) AS hamming
          |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
          |WHERE hamming <= 3""".stripMargin)),

    // ---------------- ANN family
    "ann_brute_topk" -> Q(
      (s, dir) => {
        reg(s, dir)
        val e = s.table("embeddings")
        Ann.bruteForceTopK(e, e.where(col("vec_id") % 100 === 0), k = 10)
      },
      Some(
        """WITH q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> cast(x as double)) AS qv
          |           FROM embeddings WHERE vec_id % 100 = 0),
          |c AS (SELECT vec_id AS cand_id, list_transform(embedding, x -> cast(x as double)) AS cv FROM embeddings),
          |sim AS (SELECT query_id, cand_id, list_cosine_similarity(qv, cv) AS cosine
          |        FROM q, c WHERE query_id <> cand_id),
          |r AS (SELECT query_id, cand_id, cosine,
          |        cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) as int) AS rank
          |      FROM sim)
          |SELECT query_id, cand_id, rank, cast(round(cosine * 1000000, 0) as bigint) AS cosine_micro
          |FROM r WHERE rank <= 10""".stripMargin)),

    // ANN LSH with the same md5 planes (tag "ann"), multi-probe at
    // Hamming ≤ 1 — oracle recomputes signatures, probing, candidate
    // set and the exact per-query top-k over candidates.
    "ann_lsh_topk" -> Q(
      (s, dir) => {
        reg(s, dir)
        val e = s.table("embeddings")
        Ann.lshTopK(e, e.where(col("vec_id") % 100 === 0), k = 10, probes = 2)
      },
      Some(
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> cast(x as double)) AS v FROM embeddings),
           |em AS (SELECT vec_id, list_transform(v, x -> cast(floor(x * 1000000) as bigint)) AS vi FROM e),
           |tt AS (SELECT unnest(generate_series(0, 3)) AS t),
           |bb AS (SELECT unnest(generate_series(0, 5)) AS b),
           |dd AS (SELECT unnest(generate_series(0, 63)) AS d),
           |pl AS (SELECT t, b, d,
           |  CASE WHEN (instr('0123456789abcdef', substr(md5('ann:' || t || ':' || b || ':' || d), 1, 1)) - 1) % 2 = 1
           |       THEN 1 ELSE -1 END AS w
           |  FROM tt, bb, dd),
           |dots AS (SELECT em.vec_id, pl.t, pl.b, sum(pl.w * em.vi[pl.d + 1]) AS dot
           |         FROM em, pl GROUP BY 1, 2, 3),
           |sigs AS (SELECT vec_id, t, sum(CASE WHEN dot >= 0 THEN (1 << b) ELSE 0 END) AS sig
           |         FROM dots GROUP BY 1, 2),
           |qs AS (SELECT vec_id, t, sig FROM sigs WHERE vec_id % 100 = 0),
           |probed AS (SELECT vec_id, t, sig FROM qs
           |           UNION ALL
           |           SELECT q.vec_id, q.t, xor(q.sig, (1 << f.b)) AS sig
           |           FROM qs q, (SELECT unnest(generate_series(0, 5)) AS b) f),
           |cand AS (SELECT DISTINCT p.vec_id AS query_id, s.vec_id AS cand_id
           |         FROM probed p JOIN sigs s ON s.t = p.t AND s.sig = p.sig
           |         WHERE p.vec_id <> s.vec_id),
           |sim AS (SELECT query_id, cand_id, list_cosine_similarity(eq.v, ec.v) AS cosine
           |        FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = cand_id),
           |r AS (SELECT query_id, cand_id, cosine,
           |        cast(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) as int) AS rank
           |      FROM sim)
           |SELECT query_id, cand_id, rank, cast(round(cosine * 1000000, 0) as bigint) AS cosine_micro
           |FROM r WHERE rank <= 10""".stripMargin)),

    // ---------------- text analysis family
    "lang_id" -> Q(
      (s, dir) => { reg(s, dir); TextAnalysis.langId(s.table("documents")) },
      Some {
        def occ(n: String) =
          s"(length(p) - length(replace(p, '$n', ''))) / ${n.length}"
        val scores = TextAnalysis.langMarkers.map { case (lang, ms) =>
          ms.map(occ).mkString("cast(", " + ", s" as bigint) AS score_$lang")
        }.mkString(",\n  ")
        val langNames = TextAnalysis.langMarkers.map(_._1)
        val pred = langNames.foldRight("'und'") { (lang, els) =>
          val cond = langNames.filter(_ != lang).map { o =>
            val cmp = if (langNames.indexOf(o) < langNames.indexOf(lang)) ">" else ">="
            s"score_$lang $cmp score_$o"
          }.mkString(" AND ")
          s"CASE WHEN score_$lang > 0 AND $cond THEN '$lang' ELSE $els END"
        }
        s"""WITH p AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
           |s AS (SELECT doc_id,
           |  $scores
           |FROM p)
           |SELECT doc_id, score_en, score_de, score_fr, score_es,
           |  $pred AS lang_pred
           |FROM s""".stripMargin
      }),

    "quality" -> Q(
      (s, dir) => { reg(s, dir); TextAnalysis.quality(s.table("documents")) },
      Some {
        val stops = Seq(" the ", " a ", " and ", " of ", " to ")
          .map(n => s"(length(p) - length(replace(p, '$n', ''))) / ${n.length}")
          .mkString("(", " + ", ")")
        s"""WITH b AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
           |  len(list_filter(string_split(text, ' '), w -> w <> '')) AS words
           |  FROM documents)
           |SELECT doc_id,
           |  cast(length(text) as bigint) AS n_chars_q,
           |  cast(words as bigint) AS n_words,
           |  cast(round(length(replace(text, ' ', '')) * 1000000.0 / greatest(words, 1), 0) as bigint) AS mean_word_len_micro,
           |  cast(round($stops * 1000000.0 / greatest(words, 1), 0) as bigint) AS stop_ratio_micro,
           |  cast(round((length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))) * 1000000.0 / greatest(length(text), 1), 0) as bigint) AS alpha_ratio_micro
           |FROM b""".stripMargin
      }),

    "token_counts" -> Q(
      (s, dir) => { reg(s, dir); TextAnalysis.tokenCounts(s.table("documents")) },
      Some(
        """SELECT doc_id,
          |  cast(len(list_filter(string_split(text, ' '), w -> w <> '')) as bigint) AS ws_tokens,
          |  cast(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) as bigint) AS bpe_tokens
          |FROM documents""".stripMargin)),

    // winnowing with the md5 gram hash: the oracle re-runs the
    // window-min selection in SQL (min OVER a w-row frame; rn<=ng-w+1
    // restricts to fully-inside windows, with the whole-text fallback
    // for short gram sequences) and md5s the sorted selection.
    "fingerprints" -> Q(
      (s, dir) => {
        reg(s, dir)
        TextAnalysis.fingerprints(s.table("documents"))
      },
      Some(
        """WITH x AS (SELECT doc_id, text, unnest(generate_series(1, greatest(length(text) - 7, 1))) AS i FROM documents),
          |g AS (SELECT doc_id, i, md5(substr(text, i, 8)) AS h FROM x),
          |wm AS (SELECT doc_id, i,
          |         min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS mh,
          |         count(*) OVER (PARTITION BY doc_id) AS ng,
          |         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
          |       FROM g),
          |sel AS (SELECT DISTINCT doc_id, mh FROM wm WHERE rn <= ng - 15 OR (ng < 16 AND rn = 1))
          |SELECT doc_id, cast(count(*) as bigint) AS n_fingerprints,
          |  md5(string_agg(mh, ',' ORDER BY mh)) AS fingerprint_hex
          |FROM sel GROUP BY doc_id""".stripMargin)),

    // ---------------- multimodal plumbing (stubbed codec, real plumbing)
    // The FakeCodec probe is md5-derived (PortableHash), so the decoded
    // METADATA (the plumbing's observable output) is fully oracle-able;
    // the embedding/frame arrays stay covered by OpsSpec.
    "multimodal_decode" -> Q(
      (s, dir) => {
        reg(s, dir)
        Multimodal.decodeAll(Multimodal.synthAssets(s.table("documents")))
          .drop("sampled_frames", "feature") // keep pandas-comparable scalars
          .withColumn("width", col("width").cast("long"))
          .withColumn("height", col("height").cast("long"))
          .withColumn("n_frames", col("n_frames").cast("long"))
      },
      Some {
        import graft.ops.PortableHash.int12Sql
        s"""WITH a AS (SELECT doc_id AS asset_id,
           |  CASE WHEN doc_id % 3 = 0 THEN 'image'
           |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
           |  cast(octet_length(encode(text)) as bigint) AS n_bytes,
           |  md5(text) AS hx FROM documents)
           |SELECT asset_id, media_type, n_bytes,
           |  cast(16 + ${int12Sql("hx", 0)} % 1024 as bigint) AS width,
           |  cast(16 + ${int12Sql("hx", 3)} % 1024 as bigint) AS height,
           |  cast(CASE WHEN media_type = 'video'
           |            THEN 1 + ${int12Sql("hx", 6)} % 64 ELSE 1 END as bigint) AS n_frames
           |FROM a""".stripMargin
      }),

    // ---------------- ELM title scoring (§2.9, deterministic seed)
    //
    // DISTRIBUTED train + score: TF-IDF stats (df, norms, activity) are
    // DataFrame aggregates; the selected vocab (the model's small
    // artifact) is collected + broadcast; β comes from the Gram-sum
    // solve ([[Elm.trainDistributed]] — rows never reach the driver);
    // scoring is a broadcast-weights typed map. The trained weights are
    // persisted to a side parquet ([[ElmSide]]) so the DuckDB oracle
    // re-derives every score from documents + weights alone:
    // tokenize → tfidf → micro-quantized activity → σ(Wx+b)·β.
    //
    // Feature activity uses round(tfidf·1e6) ≥ 500000 in BOTH engines:
    // the micro quantization absorbs cross-engine ulp noise at the
    // reference's 0.5 threshold (e.g. a title of exactly 4 equal-idf
    // terms lands EXACTLY on 0.5, where raw-double comparisons diverge).
    "elm_title_score" -> Q(
      (s, dir) => {
        import s.implicits._
        reg(s, dir)
        val toks = s.table("documents")
          .select(col("doc_id").cast("long"), col("text"), col("lang"))
          .as[(Long, String, String)]
          .map { case (id, text, lang) =>
            (id, Tokenize.terms(text).take(8).toArray,
              if (lang == "en") 1.0 else 0.0)
          }.toDF("doc_id", "toks", "y").cache()
        val nDocs = toks.count()
        // distinct (doc, term) + first-occurrence key (doc asc, pos asc)
        val dt = toks.select(col("doc_id"), col("y"),
            posexplode(col("toks")).as(Seq("pos", "term")))
          .groupBy("doc_id", "term")
          .agg(min(col("doc_id") * 8 + col("pos")).as("fk"))
        val withIdf = dt.join(
          dt.groupBy("term").agg(count(lit(1)).as("df"), min("fk").as("first_key")),
          "term")
          .withColumn("idf", log(lit(nDocs.toDouble) / col("df")) + lit(1.0))
        val act0 = withIdf
          .withColumn("nrm", sqrt(sum(col("idf") * col("idf"))
            .over(org.apache.spark.sql.expressions.Window.partitionBy("doc_id"))))
          .where(round(col("idf") / col("nrm") * 1e6, 0) >= 500000)
          // ONE evaluation: both voc (collected below) and act derive
          // from act0 — uncheckpointed, the unordered float window sum
          // re-runs per consumer, and a micro-boundary activity row
          // flipping between runs would leave act holding a term absent
          // from the broadcast vocIdx map (executor NoSuchElementException)
          .localCheckpoint(true)
        // selected vocab in first-occurrence order → feature index c
        val voc = act0.select("term", "first_key").distinct()
          .orderBy("first_key").select("term").as[String].collect()
        val vocIdx = s.sparkContext.broadcast(voc.zipWithIndex.toMap)
        val act = act0.select(col("doc_id"), col("term")).as[(Long, String)]
          .map { case (id, t) => (id, vocIdx.value(t)) }.toDF("doc_id", "c")
        val xr = toks.select("doc_id", "y")
          .join(act.groupBy("doc_id").agg(collect_list("c").as("cs")), Seq("doc_id"), "left")
          .select(col("doc_id"), col("y"),
            coalesce(col("cs"), typedLit(Seq.empty[Int])).as("cs"))
          .as[(Long, Double, Seq[Int])].cache()
        val d = voc.length
        val dense = xr.map { case (_, y, cs) =>
          val x = new Array[Double](d)
          cs.foreach(c => x(c) = 1.0)
          (x, y)
        }
        val model = Elm.trainDistributed(dense, nFeatures = d, nHidden = 20, seed = 42L)
        ElmSide.writeElm(s, voc, model)
        val bc = s.sparkContext.broadcast(model)
        val out = xr.map { case (id, _, cs) =>
          val m = bc.value
          var dec = 0.0
          val sorted = cs.sorted // ascending c = the dense-loop add order
          var h = 0
          while (h < m.w.length) {
            var z = m.b(h)
            sorted.foreach(c => z += m.w(h)(c))
            dec += m.beta(h) * Elm.sigmoid(z)
            h += 1
          }
          (id, dec)
        }.toDF("doc_id", "dec")
          .select(col("doc_id"),
            (round(col("dec") * 1e6, 0) >= 0).cast("long").as("elm_pred"),
            round(col("dec") * 1e6, 0).cast("long").as("elm_decision_micro"))
          // materialize BEFORE the unpersists: the returned frame is
          // evaluated lazily by the caller, and recomputing the lineage
          // uncached would re-run the float window-sum the collected
          // vocab (and persisted model) were derived from — an activity
          // set that drifted by one ulp would miss the vocIdx map
          .localCheckpoint(true)
        toks.unpersist(); xr.unpersist()
        out
      },
      Some(ElmSide.elmOracleSql)),

    // ---------------- LC-ELM ensemble (train/lc-elm.py:20-103)
    // Same shape: distributed Gram-sum training for all 5 members + the
    // linear combiner ([[LcElm.trainDistributed]]), persisted weights,
    // DuckDB re-scores every document (features are plain SQL scalars).
    "lcelm_score" -> Q(
      (s, dir) => {
        import s.implicits._
        reg(s, dir)
        val rows = s.table("documents")
          .select(col("doc_id").cast("long"), col("text"), col("lang"))
          .as[(Long, String, String)]
          .map { case (id, t, lang) =>
            val words = t.split(" ").count(_.nonEmpty).toDouble
            // code points, not UTF-16 units: DuckDB length(text) counts
            // code points, so non-BMP chars would otherwise diverge
            val cp = t.codePointCount(0, t.length).toDouble
            (id, Array(cp / 1000.0, words / 100.0,
              t.count(_ == 'e').toDouble / math.max(cp, 1.0)),
              if (lang == "en") 1.0 else 0.0)
          }.toDF("doc_id", "x", "y").cache()
        val model = graft.tfidf.LcElm.trainDistributed(
          rows.select("x", "y").as[(Array[Double], Double)],
          nFeatures = 3, nEstimators = 5, nHidden = 12, seed = 42L)
        ElmSide.writeLcElm(s, model)
        val bc = s.sparkContext.broadcast(model)
        val out = rows.select("doc_id", "x").as[(Long, Array[Double])]
          .map { case (id, x) => (id, bc.value.decision(x)) }
          .toDF("doc_id", "dec")
          .select(col("doc_id"),
            (round(col("dec") * 1e6, 0) > 0).cast("long").as("lcelm_pred"),
            round(col("dec") * 1e6, 0).cast("long").as("lcelm_decision_micro"))
          .localCheckpoint(true) // materialize before the unpersist
        rows.unpersist()
        out
      },
      Some(ElmSide.lcelmOracleSql))
  )

  // ------------------------------------------------------------- contract

  /** Flagship: one full crawl (frontier → politeness waves → Bloom seen
    * set → fetch join → decode/liveness/render/extract → snapshots) on
    * sf0.001, returning the extracted samples. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    crawlStore(spark, dir, discover = false).readLatest("samples").get
      .select("seq", "url", "wave", "render_match")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.fn }.toMap

  def oracleSql: Map[String, String] =
    registry.collect { case (n, Q(_, Some(o))) => n -> o }.toMap
}
