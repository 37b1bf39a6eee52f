package graft.frontier

import org.apache.spark.sql.DataFrame

/** robots.txt parsing + a distributed per-host rules table — the
  * "token-bucket delay + robots.txt cache broadcast" half of the
  * politeness scheduler the north rule requires.
  *
  * The reference crawler does not consult robots.txt (spider.py fetches
  * unconditionally), so the robots *semantics* here follow the public
  * REP convention (RFC 9309): rules are grouped under `User-agent`
  * lines, a URL path is matched against `Allow`/`Disallow` patterns
  * (`*` = any octet sequence, trailing `$` anchors the path end,
  * §2.2.3), the LONGEST matching pattern wins, `Allow` wins length
  * ties, no matching rule means allowed, an empty `Disallow:` value is
  * a no-op, and a matching exact-agent group wins group selection even
  * when empty. `Crawl-delay` (a de-facto extension) feeds the token
  * bucket ([[Politeness]]).
  *
  * Scale: the rules table ([[rulesTable]]) is keyed by host —
  * cardinality ~10^7 at the 10^10-URL design point. It is built on
  * executors and joined by host at plan time; AQE broadcasts its build
  * side only while it fits the broadcast threshold, and past that the
  * join is a plain shuffled join. No host set is collected to the
  * driver.
  */
object Robots {

  /** One path rule; `allow=false` is a Disallow. The value is an RFC
    * 9309 §2.2.3 PATTERN: a path prefix where `*` matches any octet
    * sequence and a trailing `$` anchors the end of the path. */
  final case class Rule(allow: Boolean, prefix: String) {
    @transient private lazy val anchored: Boolean = prefix.endsWith("$")
    @transient private lazy val segs: Array[String] =
      (if (anchored) prefix.substring(0, prefix.length - 1) else prefix)
        .split("\\*", -1)

    /** Pattern match per RFC 9309 §2.2.3 (greedy segment scan — greedy
      * is complete here because only existence of a match matters). */
    def matches(path: String): Boolean = {
      if (!path.startsWith(segs(0))) return false
      var pos = segs(0).length
      var k = 1
      while (k < segs.length) {
        val seg = segs(k)
        val last = k == segs.length - 1
        if (last && anchored) {
          if (path.length - seg.length < pos || !path.endsWith(seg)) return false
          pos = path.length
        } else if (last && seg.isEmpty) {
          pos = path.length // trailing '*' swallows the rest
        } else {
          val idx = path.indexOf(seg, pos)
          if (idx < 0) return false
          pos = idx + seg.length
        }
        k += 1
      }
      !anchored || pos == path.length
    }
  }

  /** Compiled rules of one host's robots.txt for our agent. */
  final case class Rules(rules: Vector[Rule], crawlDelayMs: Option[Long]) {
    /** RFC 9309 §2.2.2: the most specific (longest-pattern) matching
      * rule wins; Allow wins ties; default allow. */
    def isAllowed(path: String): Boolean = {
      var bestLen = -1
      var bestAllow = true
      for (r <- rules if r.prefix.nonEmpty && r.matches(path)) {
        val l = r.prefix.length
        if (l > bestLen || (l == bestLen && r.allow && !bestAllow)) {
          bestLen = l; bestAllow = r.allow
        }
      }
      bestAllow
    }
  }

  /** Parse a robots.txt for `agent` (case-insensitive product token).
    * Group selection: the most specific matching `User-agent` group wins
    * (exact token beats `*`); multiple agent lines directly above a rule
    * block share the block. Unknown directives are ignored. */
  def parse(text: String, agent: String = "graftbot"): Rules = {
    // ASCII fold, not String.toLowerCase: directive keys and product
    // tokens are ASCII per RFC 9309, and the default-locale fold would
    // break under tr/az locales ("DISALLOW".toLowerCase → "dısallow")
    val agentLc = graft.py.Py.lowerAscii(agent)
    // state while scanning
    var groupAgents = Vector.empty[String] // agent tokens of the open group
    var inRules = false                    // saw a rule since the agent lines
    var starRules = Vector.empty[Rule]
    var starDelay: Option[Long] = None
    var exactRules = Vector.empty[Rule]
    var exactDelay: Option[Long] = None
    var sawExact = false

    def groupMatchesExact: Boolean = groupAgents.exists(_ == agentLc)
    def groupMatchesStar: Boolean = groupAgents.contains("*")

    for (raw <- text.linesIterator) {
      val line = raw.takeWhile(_ != '#').trim
      val ci = line.indexOf(':')
      if (ci > 0) {
        val key = graft.py.Py.lowerAscii(line.substring(0, ci).trim)
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) { groupAgents = Vector.empty; inRules = false }
            groupAgents :+= graft.py.Py.lowerAscii(value)
            // RFC 9309 group selection: a matching exact group WINS even
            // when it ends up empty (e.g. 'User-agent: bot' directly
            // followed by another group) — mark it at the header, so an
            // empty exact group yields allow-all, not the '*' fallback
            if (graft.py.Py.lowerAscii(value) == agentLc) sawExact = true
          case "allow" | "disallow" =>
            inRules = true
            if (value.nonEmpty) {
              val r = Rule(key == "allow", value)
              if (groupMatchesExact) { exactRules :+= r; sawExact = true }
              if (groupMatchesStar) starRules :+= r
            } else if (groupMatchesExact) sawExact = true
          case "crawl-delay" =>
            inRules = true
            val ms = try Some((value.toDouble * 1000).round) catch { case _: NumberFormatException => None }
            if (groupMatchesExact) { exactDelay = ms.orElse(exactDelay); sawExact = true }
            if (groupMatchesStar) starDelay = ms.orElse(starDelay)
          // Non-group records (Sitemap etc.) are ignored WITHOUT closing
          // the open agent-line run: per RFC 9309 / the Google parser,
          // 'User-agent: a / Sitemap: … / User-agent: b / Disallow: /x'
          // applies the rule to BOTH a and b. Only group rules flip
          // inRules (the cases above).
          case _ => ()
        }
      }
    }
    if (sawExact) Rules(exactRules, exactDelay) else Rules(starRules, starDelay)
  }

  /** URL path (+query) for robots matching: everything from the first
    * `/` after the authority; `/` when the URL has no path. The
    * fragment is NOT part of the request (RFC 9309 matches
    * path-plus-query) — kept in, it breaks `$`-anchored rules
    * ('Disallow: /p/3$' must match 'http://h/p/3#top') and exposes
    * fragment text to pattern matching. */
  def pathOf(url: String): String = {
    val noFrag = {
      val f = url.indexOf('#')
      if (f < 0) url else url.substring(0, f)
    }
    val i = noFrag.indexOf("//")
    if (i < 0) return if (noFrag.startsWith("/")) noFrag else "/"
    val rest = noFrag.substring(i + 2)
    val s = rest.indexOf('/')
    if (s >= 0) rest.substring(s)
    else {
      // no path but a query: RFC 9309 matches path-plus-query, so
      // 'http://host?q=1' must test as '/?q=1', not '/'
      val q = rest.indexOf('?')
      if (q >= 0) "/" + rest.substring(q) else "/"
    }
  }

  // ------------------------------------------------------- fixture synth

  /** Memoized [[parse]] of the SYNTHESIZED per-host robots.txt — the
    * fixture rules are pure functions of the host, and a frontier-sized
    * UDF otherwise re-runs the full line parser once per ROW instead of
    * once per distinct host. Bounded by the fixture host space (a real
    * deployment joins the robots rules TABLE instead — rulesTable). */
  private val synthRulesCache =
    new java.util.concurrent.ConcurrentHashMap[String, Rules]()
  def synthRulesCached(host: String): Rules =
    synthRulesCache.computeIfAbsent(host, h => parse(synthTxt(h)))

  /** Deterministic robots.txt for a fixture host (no external data; same
    * crawl-delay formula as [[Politeness.delayMs]] and `SparkEntry`'s
    * `scheduledCte`, so the DuckDB oracles agree). Hosts with `length % 3 == 0`
    * disallow the `/p/3` path prefix — the SQL-expressible deny rule the
    * engine-vs-oracle queries reproduce independently. */
  def synthTxt(host: String): String = {
    val delaySec = Politeness.delayMs(host) / 1000.0
    val deny = if (host.length % 3 == 0) "Disallow: /p/3\n" else ""
    s"""# robots.txt for $host (deterministic fixture)
       |User-agent: graftbot
       |${deny}Crawl-delay: $delaySec
       |
       |User-agent: *
       |Disallow: /private/
       |""".stripMargin
  }

  /** Per-host robots rules as a DISTRIBUTED joinable table
    * `(host, robots_txt, crawl_delay_ms)` built from a hosts DataFrame —
    * no driver collect at ANY host cardinality (the engine's robots
    * path: the crawl joins this by host, and AQE broadcasts the build
    * side automatically while it fits the threshold; beyond that it is
    * a plain shuffled join). `fetch` runs on executors — the fixture
    * synthesizer here, an HTTP robots GET in production. */
  def rulesTable(
      hosts: DataFrame,
      fetch: String => String = synthTxt,
      agent: String = "graftbot"): DataFrame = {
    val spark = hosts.sparkSession
    import spark.implicits._
    hosts.select("host").as[String].map { h =>
      val txt = fetch(h)
      val r = parse(txt, agent)
      (h, txt, r.crawlDelayMs.getOrElse(Politeness.delayMs(h)))
    }.toDF("host", "robots_txt", "crawl_delay_ms")
  }

  // per-task memoized parse (rules repeat across a host's rows after the
  // robots join; robots.txt blobs are small, parse is cheap but not free)
  private val parseMemo = new ThreadLocal[java.util.LinkedHashMap[String, Rules]] {
    override def initialValue(): java.util.LinkedHashMap[String, Rules] =
      new java.util.LinkedHashMap[String, Rules](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String, Rules]): Boolean =
          size > 4096
      }
  }

  /** [[parse]] with a thread-local LRU memo — the row-local check used
    * after the [[rulesTable]] join. */
  def cachedParse(txt: String, agent: String = "graftbot"): Rules = {
    val key = agent + "\u0000" + txt
    val m = parseMemo.get()
    val got = m.get(key)
    if (got != null) got
    else { val r = parse(txt, agent); m.put(key, r); r }
  }
}
