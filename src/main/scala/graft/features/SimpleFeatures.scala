package graft.features

import graft.py.Py
import graft.urls.Canonicalize

/** URL features — `/root/reference/extractors5/url_feature.py`.
  * Order: is_http_connection, is_ip_address, dots, is_special_words,
  * is_hexadecimal (:8). The url string is the raw first line of the
  * sample document INCLUDING its trailing newline (readlines semantics,
  * `feature_extractor.py:71-72`). */
object UrlFeatures {
  val size = 5

  def isHttpConnection(url: String): Boolean = Py.sliceTo(url, 5) != "https" // :49-50

  def isIpAddress(url: String): Boolean = // :44-46
    Py.pyMatch("^\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}$", Canonicalize.extractorDomain(url))

  def dots(url: String): Int = // :53-55 — python split('.') keeps empties
    Canonicalize.extractorDomain(url).split("\\.", -1).length - 1

  def withoutParameter(url: String): String = { // :71-77 (quest_mark > 0!)
    val q = url.indexOf('?')
    if (q > 0) Py.sliceTo(url, q) else url
  }

  def isSpecialWords(url: String): Boolean = { // :10-11,58-93
    val woParam = withoutParameter(url)
    woParam.indexOf('@') > -1 || // is_at_symbol (:58-64, pre-'?' url)
    woParam.indexOf('-') > -1 || // is_dash_in_dir_struct (:87-89)
    woParam.indexOf('*') > -1 || // is_start_in_dir_struct (:91-93)
    woParam.indexOf('|') > -1    // is_or_symbol_in_struct (:79-81)
  }

  def isHexadecimal(url: String): Boolean = // :67-69
    Canonicalize.extractorDomain(url).indexOf('%') > -1

  def extract(url: String): Vector[Double] = Vector(
    if (isHttpConnection(url)) 1.0 else 0.0,
    if (isIpAddress(url)) 1.0 else 0.0,
    dots(url).toDouble,
    if (isSpecialWords(url)) 1.0 else 0.0,
    if (isHexadecimal(url)) 1.0 else 0.0)
}

/** HEADER features — `/root/reference/extractors5/header_feature.py`.
  * One feature: is_redirect = status/100 == 3 (:40-49). Parse keeps the
  * reference's continuation-line behavior (:14-22): a line without
  * ': ' is appended (strip+rstrip'd) to the previously seen field. */
object HeaderFeatures {
  val size = 1

  final case class ParsedHeader(status: Option[Int], fields: Map[String, String])

  def parse(headerStr: String): ParsedHeader = {
    val headerList = Py.rstrip(headerStr).split("\n", -1)
    if (headerList.isEmpty) return ParsedHeader(None, Map.empty)
    val row0 = Py.pySplit(headerList(0), " ")
    var fields = Map.empty[String, String]
    // headers['Status'] = row[1] (:13) — IndexErrors when absent;
    // defined substitute: no Status key
    if (row0.length > 1) fields += ("Status" -> row0(1))
    var tempField: String = null
    for (option <- headerList.drop(1)) {
      if (option.indexOf(": ") > -1) {
        val row = Py.pySplit(option, ": ")
        val (field, value) = (row(0), row(1)) // extra ': ' parts silently dropped (mirrored)
        tempField = field
        // a 'Status: x' FIELD line sets temp_field but never overwrites
        // the status-line code (:19-20)
        if (field != "Status") fields += (field -> value)
      } else if (tempField != null && fields.contains(tempField)) {
        // continuation APPENDS to headers[temp_field] unconditionally
        // (:22) — INCLUDING 'Status' after a 'Status: x' field line,
        // mutating the string is_redirect later int()s. temp_field
        // None / missing key KeyErrors in the reference; substitute:
        // drop the line.
        fields += (tempField -> (fields(tempField) + Py.rstrip(Py.strip(option))))
      }
    }
    // int(headers['Status']) — Python int semantics (sign + digits
    // only); a mutated non-numeric string crashes the reference;
    // substitute: None
    ParsedHeader(fields.get("Status").flatMap(Py.pyIntOption), fields)
  }

  def isRedirect(headerStr: String): Boolean =
    // Python 2 `/` on ints floors (negative statuses would differ)
    parse(headerStr).status.exists(s => Math.floorDiv(s, 100) == 3)

  /** Multi-block merge ORs redirect (:51-53). */
  def extract(blocks: Seq[String]): Vector[Double] = {
    if (blocks.isEmpty) return Vector(0.0)
    val merged = blocks.map(isRedirect).reduce(_ || _)
    Vector(if (merged) 1.0 else 0.0)
  }
}

/** HOST features — `/root/reference/extractors5/host_feature.py:10-24`:
  * count `host` output rows whose 3rd token is `address` (IPv4) or
  * `IPv6` (address then in the 5th token). Rows too short crash the
  * reference; defined substitute skips them. */
object HostFeatures {
  val size = 2

  def counts(hostStr: String): (Int, Int) = {
    var v4 = 0; var v6 = 0
    for (row <- hostStr.split("\n", -1) if row.nonEmpty) {
      val cols = Py.pySplit(row, " ")
      if (cols.length > 2) {
        if (cols(2) == "address" && cols.length > 3) v4 += 1
        else if (cols(2) == "IPv6" && cols.length > 4) v6 += 1
      }
    }
    (v4, v6)
  }

  def extract(blocks: Seq[String]): Vector[Double] = {
    if (blocks.isEmpty) return Vector(0.0, 0.0)
    val (v4, v6) = counts(blocks.last) // base-class merge is undefined → last block wins (documented)
    Vector(v4.toDouble, v6.toDouble)
  }
}

/** NSLOOKUP features — `/root/reference/extractors5/nslookup_feature.py`.
  * is_alias (:18-25), is_weird_serial (:35-38), get_day_age (:40-60).
  *
  * Mirrored quirks:
  *  - canonical names are collected as `s.split(' ')[-1][:-1]` (last
  *    token minus its final char — the trailing dot of a DNS name);
  *  - is_weird_serial compares the BOUND METHOD `self.get_day_age` to 0
  *    (missing `()`), which is always False in Python — so the feature
  *    is False whenever a serial exists, True otherwise;
  *  - day age uses `datetime.now()` in the reference; our engine takes
  *    a fixed `asOf` instant (the row's warc_ts) for determinism
  *    (SURVEY.md §2.6 nondeterminism alert).
  */
object NslookupFeatures {
  val size = 3

  def canonicalNames(nslookupStr: String): Set[String] =
    canonicalNames(nslookupStr.split("\n", -1))

  private def canonicalNames(rows: Array[String]): Set[String] = {
    val names = Set.newBuilder[String]
    for (s <- rows) {
      // `^.*canonical name = .*$` over a single line ≡ substring presence
      if (s.contains("canonical name = ")) {
        val last = Py.pySplit(s, " ").last
        names += Py.sliceTo(last, last.length - 1)
      }
    }
    names.result()
  }

  def getSerial(nslookupStr: String): Option[String] =
    getSerial(nslookupStr.split("\n", -1))

  private def getSerial(rows: Array[String]): Option[String] = {
    for (row <- rows) {
      if (row.indexOf(" = ") > 0) {
        val parts = Py.pySplit(Py.rstrip(Py.strip(row)), " = ")
        if (parts.length >= 2 && Py.lowerAscii(parts(0)) == "serial") return Some(parts(1))
      }
    }
    None
  }

  def isWeirdSerial(serial: Option[String]): Boolean = serial.isEmpty // bound-method quirk, see Scaladoc

  private val dateRe = "^[1-2]\\d{3}(0[1-9]|10|11|12)(0[1-9]|[1-2]\\d|3[0-2])\\d{2}$"

  def dayAge(serial: Option[String], asOfEpochSeconds: Long): Int = serial match {
    case None => 0
    case Some(s) =>
      val dateEpoch: Option[Long] =
        if (Py.pyMatch(dateRe, s)) {
          // strptime(serial[:-2], '%Y%m%d'); invalid calendar dates crash
          // the reference — defined substitute: 0
          try {
            val d = java.time.LocalDate.parse(
              Py.sliceTo(s, s.length - 2),
              java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
            Some(d.atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond)
          } catch { case _: java.time.format.DateTimeParseException => None }
        } else if (Py.pyMatch("^\\d+$", s)) {
          s.toDoubleOption.map(_.toLong)
        } else None
      dateEpoch match {
        case None => 0
        case Some(ep) =>
          if (ep > asOfEpochSeconds) 0
          else {
            val days = ((asOfEpochSeconds - ep) / 86400.0).toInt
            val epochDays = (asOfEpochSeconds / 86400.0).toInt
            if (days >= epochDays) 0 else days
          }
      }
  }

  def extract(blocks: Seq[String], asOfEpochSeconds: Long): Vector[Double] = {
    if (blocks.isEmpty) return Vector(0.0, 0.0, 0.0)
    val rows = blocks.last.split("\n", -1) // one split feeds both scans
    val serial = getSerial(rows)
    Vector(
      if (canonicalNames(rows).nonEmpty) 1.0 else 0.0,
      if (isWeirdSerial(serial)) 1.0 else 0.0,
      dayAge(serial, asOfEpochSeconds).toDouble)
  }
}

/** WHOIS feature — `/root/reference/extractors5/whois_feature.py:5-44`.
  * Note the patterns are used as REGEXES: `source(s)` contains a group,
  * so the literal string with parentheses never matches (mirrored). A
  * row containing 'invalid' is tested ONLY against the invalid list; a
  * row containing 'no' (any substring) only against the nothing list. */
object WhoisFeatures {
  val size = 1

  private val nothing = Vector(
    "NOT FOUND", "No information", "No match for", "DOMAIN NOT FOUND",
    "no match", "This TLD has no whois server",
    "No entries found for the selected source(s)")
  private val invalid = Vector("Invalid domain name", "Invalid request")
  private val others = Vector("blacklisted", "Timeout", "Error for")

  private def matches(pattern: String, row: String): Boolean =
    Py.pyMatch("^.*" + Py.lowerAscii(pattern) + ".*$", Py.lowerAscii(Py.rstrip(row)))

  def isWithWhois(whoisStr: String): Boolean = {
    for (row <- whoisStr.split("\n", -1)) {
      val low = Py.lowerAscii(Py.rstrip(row))
      if (low.contains("invalid")) {
        if (invalid.exists(matches(_, row))) return false
      } else if (low.contains("no")) {
        if (nothing.exists(matches(_, row))) return false
      } else {
        if (others.exists(matches(_, row))) return false
      }
    }
    true
  }

  def extract(blocks: Seq[String]): Vector[Double] = {
    if (blocks.isEmpty) return Vector(0.0)
    Vector(if (isWithWhois(blocks.last)) 1.0 else 0.0)
  }
}

/** TIMER feature — `/root/reference/extractors5/timer_feature.py:4-9`. */
object TimerFeatures {
  val size = 1
  def extract(blocks: Seq[String]): Vector[Double] = {
    if (blocks.isEmpty) return Vector(0.0)
    // python float() semantics exactly (accepts inf/infinity/nan,
    // rejects '5f'/'1.5d'/hex-floats that Java parseDouble takes);
    // where Python raises ValueError the reference crashes — defined
    // substitute: 0
    Vector(Py.pyFloatOption(blocks.last).getOrElse(0.0))
  }
}

/** CYCLING feature — `/root/reference/extractors5/cycling_feature.py:4-9`:
  * the NUMBER of distinct lines in the warning block. */
object CyclingFeatures {
  val size = 1
  def extract(blocks: Seq[String]): Vector[Double] = {
    if (blocks.isEmpty) return Vector(0.0)
    Vector(blocks.last.split("\n", -1).toSet.size.toDouble)
  }
}
