package graft.features

import graft.html.TagScanner
import graft.html.TagScanner.Tag
import graft.py.Py
import graft.urls.Canonicalize

/** Per-run extraction input: the as-of instant that replaces the
  * reference's `datetime.now()` (nslookup day-age). There is no
  * title-scorer input: `get_title_feature` (slot 14) is constant 0 — see
  * [[HttpFeatures]]. */
final case class ExtractConfig(asOfEpochSeconds: Long)

/** HTTP-block features — `/root/reference/extractors5/http_feature.py`.
  * Feature order (:59): get_kbytes, is_frame, is_meta_redirect,
  * is_meta_base64_redirect, is_form, is_input_submit, is_button_submit,
  * same_extern_domain_script_rate, script_block_rate, style_block_rate,
  * external_a_tag_same_domain, null_a_tag,
  * same_external_domain_link_rate, same_external_domain_img_rate,
  * get_title_feature, get_form_in_javascript — 16 values.
  *
  * `get_title_feature` (:477-512) is constant 0.0: the reference scores
  * the page titles with a joblib-pickled ELM whose blobs are missing
  * upstream (`.MISSING_LARGE_BLOBS`), and nothing trains one into the
  * extractor, so titles are not collected.
  *
  * Multi-block samples merge via `__add__` (:532-549): tag lists and
  * row/byte counters accumulate; `html_str`-derived state (script_block,
  * form tags) stays the LAST block's (not merged in the reference
  * either — `get_form()` re-reads `self.html_tree`).
  */
object HttpFeatures {
  val size = 16

  /** Parsed per-block state; `merged*` fields follow `__add__`. */
  final case class State(
      tags: Vector[Tag], // last block's full tag list (get_form path)
      aTags: Vector[Tag],
      linkTags: Vector[Tag],
      imgTags: Vector[Tag],
      frameTags: Vector[Tag],
      redirectTags: Vector[Tag],
      scriptTags: Vector[Tag],
      styleBlockRows: Int,
      scriptBlockRows: Int,
      totalRows: Int,
      bytes: Int,
      scriptBlock: Vector[String]) {

    /** `instance += pre` (:88-90): current absorbs previous. */
    def absorb(prev: State): State = copy(
      aTags = aTags ++ prev.aTags,
      linkTags = linkTags ++ prev.linkTags,
      imgTags = imgTags ++ prev.imgTags,
      frameTags = frameTags ++ prev.frameTags,
      redirectTags = redirectTags ++ prev.redirectTags,
      scriptTags = scriptTags ++ prev.scriptTags,
      styleBlockRows = styleBlockRows + prev.styleBlockRows,
      scriptBlockRows = scriptBlockRows + prev.scriptBlockRows,
      totalRows = totalRows + prev.totalRows,
      bytes = bytes + prev.bytes)
  }

  /** `__striped_html_str` (:157-167): rstrip the block, drop lines that
    * are a single whole-line comment (keep multi-comment lines), rstrip
    * each kept line, re-join. */
  def stripedHtmlStr(htmlStr: String): String =
    stripedFromRows(htmlStr.split("\n", -1))._1

  /** [[stripedHtmlStr]] over the pre-split raw rows of the block —
    * returns (joined striped string, its rows) so [[buildState]] splits
    * the block exactly once. `rstrip(htmlStr).split` == raw rows up to
    * the last row containing non-whitespace (the full-string rstrip
    * only removes TRAILING whitespace, and every surviving row is
    * per-row rstripped below anyway). */
  private[features] def stripedFromRows(raw: Array[String]): (String, Array[String]) = {
    val rows = stripedRows(raw)
    (rows.mkString("\n"), rows)
  }

  /** The rows of [[stripedFromRows]] without materializing the joined
    * string — the hot path only needs the rows (and their summed byte
    * length, which [[buildState]] derives per-row). */
  private[features] def stripedRows(raw: Array[String]): Array[String] = {
    var k = raw.length - 1
    while (k >= 0 && { var j = 0; val r = raw(k)
      while (j < r.length && Py.isByteWs(r.charAt(j))) j += 1
      j == r.length }) k -= 1
    val kept = Array.newBuilder[String]
    var i = 0
    val last = if (k < 0) 0 else k // rstrip("")-> "" splits to one empty row
    while (i <= last) {
      val r = Py.rstrip(if (k < 0) "" else raw(i))
      // fast reject: both comment regexes require the `<!--` prefix and
      // `-->` suffix (rows are single lines, so `.*` spans freely); the
      // regexes only run on comment-shaped rows
      if (r.length >= 7 && r.startsWith("<!--") && r.endsWith("-->")) {
        if (Py.pyMatch("^<!--.*(-->.*<!--)+.*-->$", r)) kept += r
        else if (Py.pyMatch("^<!--.*-->$", r)) () // dropped
        else kept += r
      } else kept += r
      i += 1
    }
    kept.result()
  }

  /** `__cal_tag_block_rows` (:169-184). Quirks mirrored: a tag at column
    * 0 is invisible (`row.find(tag) > 0`), and a block opening at row 0
    * never closes (`block_begin > 0`). */
  def calTagBlockRows(htmlStr: String, tagName: String): Int =
    calTagBlockRows(htmlStr.split("\n", -1), tagName)

  /** [[calTagBlockRows]] over pre-split rows (split reuse on the
    * per-block hot path). */
  def calTagBlockRows(rows: Array[String], tagName: String): Int = {
    var temp = 0
    var blockBegin = -1
    var i = 0
    while (i < rows.length) {
      val row = rows(i)
      if (row.indexOf(tagName) > 0) {
        val r0 = Py.rstrip(row)
        // the findall patterns are metachar-free literals → plain counts
        val l = Py.countLiteral(r0, "<" + tagName)
        val r = Py.countLiteral(r0, "</" + tagName + ">")
        if (l > r) blockBegin = i
        else if (r > l && blockBegin > 0) { temp += i - blockBegin + 1; blockBegin = -1 }
        else if (l > 0) temp += 1
      }
      i += 1
    }
    temp
  }

  /** `_get_script_block_rows` via `__cal_tag_block` (:61-83) — returns
    * the rows, with the reference's off-by-slice quirk
    * `html_str_list[block_begin : i - block_begin + 1]` mirrored. */
  def calTagBlock(htmlStr: String, tagName: String): Vector[String] =
    calTagBlock(htmlStr.split("\n", -1), tagName)

  /** [[calTagBlock]] over pre-split rows. */
  def calTagBlock(rows: Array[String], tagName: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var blockBegin = -1
    var i = 0
    while (i < rows.length) {
      val row = rows(i)
      if (row.indexOf(tagName) > 0) {
        val r0 = Py.rstrip(row)
        val l = Py.countLiteral(r0, "<" + tagName)
        val r = Py.countLiteral(r0, "</" + tagName + ">")
        if (l > r) blockBegin = i
        else if (r > l && blockBegin > 0) {
          val end = i - blockBegin + 1 // reference quirk: NOT i + 1
          var j = blockBegin
          while (j < math.min(end, rows.length)) { out += Py.rstrip(rows(j)); j += 1 }
          blockBegin = -1
        } else if (l > 0) out += r0
      }
      i += 1
    }
    out.result()
  }

  def buildState(htmlStr: String): State = {
    val rawRows = htmlStr.split("\n", -1) // the block's ONLY line split
    val stripedRows = HttpFeatures.stripedRows(rawRows)
    // byteLen(rows.mkString("\n")) without building the joined string:
    // per-row UTF-8 bytes + one byte per joining newline
    var stripedBytes = if (stripedRows.length == 0) 0 else stripedRows.length - 1
    var si = 0
    while (si < stripedRows.length) { stripedBytes += Py.byteLen(stripedRows(si)); si += 1 }
    val tags = TagScanner.scan(htmlStr)
    // one pass over the tag list instead of eight findAll filters; each
    // bucket keeps document order (iframe/frame stay segregated to
    // mirror `find_all('iframe') + find_all('frame')` concatenation)
    val aB, linkB, imgB, iframeB, frameB, redirectB, scriptB = Vector.newBuilder[Tag]
    for (t <- tags) {
      t.name match {
        case "a" => aB += t
        case "link" => linkB += t
        case "img" => imgB += t
        case "iframe" => iframeB += t
        case "frame" => frameB += t
        case "script" => scriptB += t
        case "meta" =>
          if (t.getOpt("http-equiv").exists(v => Py.pyMatchI("^refresh$", v))) redirectB += t
        case _ => ()
      }
    }
    State(
      tags = tags,
      aTags = aB.result(),
      linkTags = linkB.result(),
      imgTags = imgB.result(),
      frameTags = iframeB.result() ++ frameB.result(),
      redirectTags = redirectB.result(),
      scriptTags = scriptB.result(),
      styleBlockRows = calTagBlockRows(stripedRows, "style"),
      scriptBlockRows = calTagBlockRows(stripedRows, "script"),
      totalRows = stripedRows.length,
      bytes = stripedBytes,
      scriptBlock = calTagBlock(rawRows, "script"))
  }

  private def truthy(v: Option[String]): Boolean = v.exists(_.nonEmpty)

  /** Shared shape of the four external-domain rate features
    * (:304-327,356-380,387-411,428-452): histogram attr-value domains
    * via the extractor canonicalizer, take the max count over domains
    * ∉ {'.', page domain}, divide by the TOTAL tag count. */
  private def externalRate(tags: Vector[Tag], attr: String, pageDomain: String,
      include: Option[String] => Boolean): Double = {
    val counts = new java.util.HashMap[String, Int]()
    var total = 0
    for (node <- tags) {
      val url = node.getOpt(attr)
      total += 1
      if (include(url)) {
        val d = Canonicalize.extractorDomain(url.get)
        counts.merge(d, 1, (a, b) => a + b)
      }
    }
    var m = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue > m && e.getKey != "." && e.getKey != pageDomain) m = e.getValue
    }
    if (total > 0) m.toDouble / total.toDouble else 0.0
  }

  def externalATagSameDomain(st: State, pageDomain: String): Double =
    externalRate(st.aTags, "href", pageDomain, u => truthy(u) && u.get != "#")

  def nullATag(st: State): Double = { // :329-349
    var total = 0; var nullUrl = 0
    for (node <- st.aTags) {
      val url = node.getOpt("href")
      total += 1
      val keep = truthy(url) && !url.get.startsWith("#") && !url.get.contains("void(")
      if (!keep) nullUrl += 1
    }
    if (total > 0) nullUrl.toDouble / total.toDouble else 0.0
  }

  def sameExternalDomainLinkRate(st: State, pageDomain: String): Double =
    externalRate(st.linkTags, "href", pageDomain, u => truthy(u) && u.get != "#")

  def sameExternalDomainImgRate(st: State, pageDomain: String): Double =
    externalRate(st.imgTags, "src", pageDomain, truthy)

  def sameExternDomainScriptRate(st: State, pageDomain: String): Double =
    externalRate(st.scriptTags, "src", pageDomain, truthy)

  /** `_get_form_in_javascript` (:85-90): re.match + MULTILINE on the
    * joined script block — anchored at position 0, so effectively only
    * the first line can match (mirrored via lookingAt). */
  def formInJavascriptWrite(st: State): Boolean =
    st.scriptBlockRows != 0 && {
      val block = st.scriptBlock.mkString("\n")
      // the anchored match (`lookingAt`, `.` excludes \n) can only
      // succeed within the FIRST line, so lowercase just that line
      // instead of the whole block; a cheap contains rejects first
      val nl = block.indexOf('\n')
      val first = Py.lowerAscii(if (nl < 0) block else block.substring(0, nl))
      first.contains("write(") &&
        Py.pyMatchM("^.*write\\(.*<form[^>]*>.*$", first)
    }

  /** `get_form_in_javascript` (:92-137). Quirks mirrored: `name`/`id`
    * attr values are iterated as CHARACTERS (Python `for j in i.get(..)`
    * over a string), `class` as bs4 multi-value tokens.
    *
    * The comparisons are Python 2 CROSS-TYPE equality: bs4-unicode
    * attr (`i.strip()`, Py_UNICODE_ISSPACE) vs a byte-str regex group
    * (`text.strip()`, ASCII). `u == b` coerces the BYTE side via ascii
    * decode and is False whenever it contains a non-ASCII byte — so a
    * non-ASCII `text` can never match (mirrored by the isAscii gate);
    * a non-ASCII attr char simply never equals an ASCII `text`. */
  def formInJavascript(st: State): Boolean = {
    if (st.scriptBlockRows == 0) return false
    val forms = TagScanner.findAll(st.tags, "form")
    // unicode-side strips hoisted: loop-invariant across script rows
    val formNameChars = forms.flatMap(f => f.getOpt("name").filter(_.nonEmpty).toVector.flatMap(_.map(_.toString)))
      .map(Py.stripUni)
    val formClassNames = forms.flatMap(_.classList).map(Py.stripUni)
    val formIdChars = forms.flatMap(f => f.getOpt("id").filter(_.nonEmpty).toVector.flatMap(_.map(_.toString)))
      .map(Py.stripUni)
    val formClassOrId = formClassNames ++ formIdChars
    def isAscii(s: String): Boolean = {
      var i = 0
      while (i < s.length && s.charAt(i) < 0x80) i += 1
      i == s.length
    }
    def hit(attrs: Vector[String], group: String): Boolean = {
      val text = Py.strip(group)
      isAscii(text) && attrs.contains(text)
    }
    var number = 0
    for (row0 <- st.scriptBlock) {
      val row = Py.rstrip(row0)
      Py.pySearchMGuarded("^.*getElementById\\(.([^)]*).\\).*$", row) match {
        case Some(m) =>
          if (hit(formIdChars, m.group(1))) number += 1
        case None =>
          if (Py.pySearchMGuarded("^.*getElementsByTagName\\(.form.\\).*$", row).isDefined) number += 1
          else Py.pySearchMGuarded("^.*getElementsByClassName\\(.([^)]*).\\).*$", row) match {
            case Some(m) =>
              if (hit(formClassNames, m.group(1))) number += 1
            case None =>
              Py.pySearchMGuarded("^.*forms\\[.([^\\]]*).\\].*$", row) match {
                case Some(m) =>
                  if (hit(formNameChars, m.group(1))) number += 1
                case None =>
                  // reference uses re.match here (:123) — anchored;
                  // contains() is the required-literal fast reject
                  val byName =
                    if (row.contains("getElementsByName"))
                      Py.pyMatchMG("^.*getElementsByName\\(.([^)]*).\\).*$", row)
                    else None
                  byName match {
                    case Some(m) =>
                      if (hit(formNameChars, m.group(1))) number += 1
                    case None =>
                      Py.pySearchMGuarded("^.*querySelector\\(.([^)]*).\\).*$", row) match {
                        case Some(m) =>
                          if (hit(formClassOrId, m.group(1))) number += 1
                        case None => ()
                      }
                  }
              }
          }
      }
    }
    number > 0
  }

  /** Extract the 16 features from the sample's http blocks.
    * @param rawUrl the sample's first line (pre-rstrip, per
    *               `feature_extractor.py:84` kwarg then :24 rstrip) */
  def extract(blocks: Seq[String], rawUrl: String): Vector[Double] = {
    if (blocks.isEmpty) return Vector.fill(size)(0.0)
    val pageDomain = Canonicalize.extractorDomain(Py.rstrip(rawUrl))
    val st = blocks.map(buildState).reduce((prev, cur) => cur.absorb(prev))
    val isRedirect = st.redirectTags.nonEmpty
    val isBase64 = st.redirectTags.exists { t =>
      t.getOpt("content").exists(c => Py.pyMatchI("^.*base64.*$", Py.lowerUni(c)))
    }
    val isForm = TagScanner.findAll(st.tags, "form").nonEmpty || formInJavascriptWrite(st)
    Vector(
      st.bytes.toDouble / 1024.0,
      if (st.frameTags.nonEmpty) 1.0 else 0.0,
      if (isRedirect && !isBase64) 1.0 else 0.0,
      if (isBase64) 1.0 else 0.0,
      if (isForm) 1.0 else 0.0,
      // is_input_submit — `Tag.tag` quirk: always False (:281-285), so
      // its find_all(type="submit") (:278) is not computed
      0.0,
      0.0, // is_button_submit — same quirk (:287-291)
      sameExternDomainScriptRate(st, pageDomain),
      if (st.totalRows > 0) st.scriptBlockRows.toDouble / st.totalRows.toDouble else 0.0,
      if (st.totalRows > 0) st.styleBlockRows.toDouble / st.totalRows.toDouble else 0.0,
      externalATagSameDomain(st, pageDomain),
      nullATag(st),
      sameExternalDomainLinkRate(st, pageDomain),
      sameExternalDomainImgRate(st, pageDomain),
      0.0, // get_title_feature — no title model (see the object doc)
      if (formInJavascript(st)) 1.0 else 0.0)
  }
}
