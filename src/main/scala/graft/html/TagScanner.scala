package graft.html

/** Minimal HTML start-tag scanner reproducing the observable subset of
  * BeautifulSoup('html.parser') behavior the reference extractors use
  * (`extractors5/http_feature.py:211-452`): `find_all(name)` over flat
  * start tags, attribute access via `get`, multi-valued `class`, and
  * `<title>` text. No tree is built — none of the features need one.
  *
  * Mirrored html.parser semantics:
  *  - tag and attribute names lower-cased;
  *  - `<script>`/`<style>` content is CDATA — tags inside them are NOT
  *    parsed (Python `HTMLParser.CDATA_CONTENT_ELEMENTS`);
  *  - comments `<!-- -->` and declarations `<! >` skipped;
  *  - valueless attributes read back as None (here [[Tag.get]] → None);
  *  - `class` is multi-valued (whitespace-split), all other attributes
  *    single strings.
  *
  * No jsoup/bs4 jar exists in this sandbox (SURVEY.md §7.1); fixture
  * HTML is well-formed enough that full HTML5 error recovery is not
  * required. Divergence risk on pathological markup is documented.
  */
object TagScanner {

  final case class Tag(
      name: String,
      attrs: Vector[(String, Option[String])],
      text: String) {

    /** bs4 `tag.get(name)`: attribute value, None when absent OR
      * valueless (html.parser yields None for valueless attributes —
      * both falsy in every reference call site). Last duplicate wins
      * (dict build order). */
    def getOpt(attr: String): Option[String] = {
      var found: Option[String] = null
      for ((k, v) <- attrs if k == attr) found = v
      if (found == null) None else found
    }

    /** bs4 multi-valued class list. */
    def classList: Vector[String] =
      getOpt("class").map(_.split("\\s+").filter(_.nonEmpty).toVector).getOrElse(Vector.empty)
  }

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  /** Scan all start tags in document order. For `title` tags, `text`
    * carries the raw content up to the matching `</title`. */
  def scan(html: String): Vector[Tag] = {
    val out = Vector.newBuilder[Tag]
    val n = html.length
    var i = 0
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { i = n }
      else if (lt + 1 >= n) { i = n }
      else {
        val c = html.charAt(lt + 1)
        if (html.startsWith("<!--", lt)) {
          val end = html.indexOf("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else if (c == '!' || c == '?') {
          val end = html.indexOf('>', lt + 1)
          i = if (end < 0) n else end + 1
        } else if (c == '/') {
          val end = html.indexOf('>', lt + 1)
          i = if (end < 0) n else end + 1
        } else if (isNameStart(c)) {
          val (tag, after, selfClosing) = parseStartTag(html, lt)
          tag match {
            // a self-closing <script/>/<style/>/<title/> does NOT enter
            // content mode: html.parser dispatches startendtag and only
            // calls set_cdata_mode for a plain start tag
            case Some(t) =>
              if (!selfClosing && (t.name == "script" || t.name == "style")) {
                // CDATA: skip to the matching close tag, case-insensitive
                val close = findCloseTag(html, t.name, after)
                out += t
                i = if (close < 0) n else html.indexOf('>', close) match {
                  case -1 => n
                  case e  => e + 1
                }
              } else if (!selfClosing && t.name == "title") {
                val close = findCloseTag(html, "title", after)
                val text = if (close < 0) html.substring(after) else html.substring(after, close)
                out += t.copy(text = text)
                i = if (close < 0) n
                    else html.indexOf('>', close) match { case -1 => n; case e => e + 1 }
              } else {
                out += t
                i = after
              }
            case None => i = lt + 1
          }
        } else {
          i = lt + 1
        }
      }
    }
    out.result()
  }

  /** `\s` in a CPython regex: ASCII-only whitespace (html.parser runs
    * without re.UNICODE on str patterns in the paths we mirror). */
  private def isPymSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000B'

  private def isNameChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '-' || c == '.' || c == ':' || c == '_'

  /** First index of a CDATA-terminating close tag at or after `from`,
    * mirroring PYTHON 2's HTMLParser (the interpreter the reference
    * runs — Python 3's html.parser differs on every point below):
    *  - the CDATA scan pattern is `</\s*NAME` with the lowered element
    *    name as a case-SENSITIVE literal (Py2 `set_cdata_mode` compiles
    *    it without re.I, so `</SCRIPT>` never ends a script element);
    *  - acceptance is endtagfind `</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>`
    *    whose lowered group must equal the element name — `</script
    *    foo>` fails it and stays character data;
    *  - a rejected candidate consumes data through the first `>` after
    *    it (parse_endtag's handle_data-to-gtpos), so the scan resumes
    *    AFTER that `>` — `</script</script>` is ALL data in Py2;
    *  - a candidate with no following `>` leaves the rest as data
    *    (parse_endtag returns -1, the buffer tail drains as data).
    * Returns the index of the `<`, or -1. */
  private def findCloseTag(html: String, name: String, from: Int): Int = {
    val n = html.length
    val nl = name.length
    var i = math.max(from, 0)
    while (i < n - 1) {
      if (html.charAt(i) == '<' && html.charAt(i + 1) == '/') {
        var j = i + 2
        while (j < n && isPymSpace(html.charAt(j))) j += 1
        if (html.regionMatches(false, j, name, 0, nl)) {
          val gt = html.indexOf('>', i + 2)
          if (gt < 0) return -1
          var k = j + nl
          while (k < n && isNameChar(html.charAt(k))) k += 1
          var m = k
          while (m < n && isPymSpace(html.charAt(m))) m += 1
          // name run must end exactly at the literal (a longer run is a
          // different element name), then optional ws, then '>'
          if (k == j + nl && m < n && html.charAt(m) == '>') return i
          i = gt + 1 // rejected: data through gtpos, resume after it
        } else i += 1
      } else i += 1
    }
    -1
  }

  /** Parse one start tag beginning at `lt` (html.charAt(lt)=='<').
    * Returns the Tag, the index just past the closing '>', and whether
    * the tag was self-closing (`.../>` → html.parser startendtag). */
  private def parseStartTag(html: String, lt: Int): (Option[Tag], Int, Boolean) = {
    val n = html.length
    var i = lt + 1
    val nameStart = i
    while (i < n && !isPymSpace(html.charAt(i)) && html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
    val name = graft.py.Py.lowerUni(html.substring(nameStart, i))
    if (name.isEmpty) return (None, i, false)
    val attrs = Vector.newBuilder[(String, Option[String])]
    var done = false
    // `/` consumed by the inter-attribute skip right before the closing
    // `>` marks the tag self-closing; a `/` inside an unquoted value
    // (e.g. href=foo/) stays part of the value and does not count.
    var selfClosing = false
    while (!done && i < n) {
      selfClosing = false
      while (i < n && (isPymSpace(html.charAt(i)) || html.charAt(i) == '/')) {
        if (html.charAt(i) == '/') selfClosing = true
        i += 1
      }
      if (i >= n) done = true
      else if (html.charAt(i) == '>') { i += 1; done = true }
      else {
        // attribute name
        val as = i
        while (i < n && !isPymSpace(html.charAt(i)) && html.charAt(i) != '=' &&
               html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
        val aname = graft.py.Py.lowerUni(html.substring(as, i))
        while (i < n && isPymSpace(html.charAt(i))) i += 1
        if (i < n && html.charAt(i) == '=') {
          i += 1
          while (i < n && isPymSpace(html.charAt(i))) i += 1
          if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
            val q = html.charAt(i)
            i += 1
            val vs = i
            while (i < n && html.charAt(i) != q) i += 1
            attrs += ((aname, Some(html.substring(vs, i))))
            if (i < n) i += 1
          } else {
            val vs = i
            while (i < n && !isPymSpace(html.charAt(i)) && html.charAt(i) != '>') i += 1
            attrs += ((aname, Some(html.substring(vs, i))))
          }
        } else if (aname.nonEmpty) {
          attrs += ((aname, None)) // valueless attribute → bs4 None
        }
      }
    }
    (Some(Tag(name, attrs.result(), "")), i, selfClosing)
  }

  /** bs4 `find_all(name)`. */
  def findAll(tags: Vector[Tag], name: String): Vector[Tag] = tags.filter(_.name == name)
}
