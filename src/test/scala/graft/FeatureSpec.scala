package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.features._
import graft.html.TagScanner
import graft.parse.{Blocks, SampleRender}
import graft.model.{HeaderHop, NetInfo}
import graft.py.Py

class UrlFeatureSpec extends AnyFunSuite {
  test("url features on a userinfo+dash url") {
    val url = "http://user@ex-ample.com/a.b/c?d&e\n"
    assert(UrlFeatures.isHttpConnection(url))
    assert(!UrlFeatures.isIpAddress(url))
    assert(UrlFeatures.dots(url) == 1) // ex-ample.com
    assert(UrlFeatures.isSpecialWords(url)) // '@' and '-' pre-'?'
    assert(!UrlFeatures.isHexadecimal(url))
  }
  test("https and ip detection") {
    assert(!UrlFeatures.isHttpConnection("https://x/\n"))
    assert(UrlFeatures.isIpAddress("http://10.2.3.44/x\n"))
    assert(UrlFeatures.isIpAddress("http://10.2.3.44\n")) // $ before newline
    assert(UrlFeatures.isHexadecimal("http://h%41x.com/\n"))
  }
}

class SimpleExtractorSpec extends AnyFunSuite {
  test("header: status, continuation lines, redirect") {
    val h = "HTTP/1.1 302 Found\nLocation: http://x/\nX-Long: part1\n  cont2\n\n"
    val p = HeaderFeatures.parse(h)
    assert(p.status.contains(302))
    assert(p.fields("X-Long") == "part1cont2")
    assert(HeaderFeatures.isRedirect(h))
    assert(HeaderFeatures.extract(Seq(h)) == Vector(1.0))
    assert(HeaderFeatures.extract(Seq("HTTP/1.1 200 OK\nA: b", h)) == Vector(1.0)) // OR-merge
    assert(HeaderFeatures.extract(Nil) == Vector(0.0))
  }

  test("header: continuation after a 'Status:' field mutates the status code") {
    // reference: headers['Status'] = '301' (status line); 'Status: foo'
    // sets temp_field WITHOUT overwriting; the continuation '5' appends
    // to headers['Status'] -> int('3015')/100 != 3 -> NOT a redirect
    val h = "HTTP/1.1 301 Moved\nStatus: foo\n5"
    val p = HeaderFeatures.parse(h)
    assert(p.fields("Status") == "3015")
    assert(p.status.contains(3015))
    assert(!HeaderFeatures.isRedirect(h))
    // without the continuation the 301 stands
    assert(HeaderFeatures.isRedirect("HTTP/1.1 301 Moved\nStatus: foo"))
  }

  test("timer: python float() semantics, not Java parseDouble") {
    import graft.features.TimerFeatures
    assert(TimerFeatures.extract(Seq("0.25\n\n")) == Vector(0.25))
    // python float() accepts inf / Infinity case-insensitively
    assert(TimerFeatures.extract(Seq("inf\n")) == Vector(Double.PositiveInfinity))
    assert(TimerFeatures.extract(Seq("-Infinity\n")) == Vector(Double.NegativeInfinity))
    // python REJECTS these; the reference would crash -> substitute 0
    assert(TimerFeatures.extract(Seq("5f\n")) == Vector(0.0))
    assert(TimerFeatures.extract(Seq("1.5d\n")) == Vector(0.0))
    assert(TimerFeatures.extract(Seq("0x1.8p1\n")) == Vector(0.0))
    assert(TimerFeatures.extract(Seq("1e3\n")) == Vector(1000.0))
  }

  test("host: ipv4/ipv6 counting") {
    val s = "e.com has address 1.2.3.4\ne.com has IPv6 address ::1\nshort row\n"
    assert(HostFeatures.counts(s) == ((1, 1)))
    assert(HostFeatures.extract(Seq(s)) == Vector(1.0, 1.0))
  }

  test("nslookup: alias, serial, day age against fixed asOf") {
    val ns = "Server:\t8.8.8.8\n\nwww.e.com\tcanonical name = e.com.\n\torigin = ns1.e.com\n\tserial = 2024010101\n"
    assert(NslookupFeatures.canonicalNames(ns) == Set("e.com"))
    val serial = NslookupFeatures.getSerial(ns)
    assert(serial.contains("2024010101"))
    assert(!NslookupFeatures.isWeirdSerial(serial)) // bound-method quirk: False when serial exists
    assert(NslookupFeatures.isWeirdSerial(None))
    // asOf = 2024-03-01T00:00:00Z; serial date = 2024-01-01 → 60 days
    val asOf = java.time.Instant.parse("2024-03-01T00:00:00Z").getEpochSecond
    assert(NslookupFeatures.extract(Seq(ns), asOf)(0) == 1.0) // is_alias
    assert(NslookupFeatures.dayAge(serial, asOf) == 60)
    // epoch-seconds serial
    assert(NslookupFeatures.dayAge(Some((asOf - 86400 * 10).toString), asOf) == 10)
    // future date → 0
    assert(NslookupFeatures.dayAge(Some("2099010101"), asOf) == 0)
    // garbage → 0
    assert(NslookupFeatures.dayAge(Some("abc"), asOf) == 0)
  }

  test("whois: nothing/invalid/others patterns incl. the source(s) regex quirk") {
    assert(!WhoisFeatures.isWithWhois("No match for \"FOO.COM\"\n"))
    assert(!WhoisFeatures.isWithWhois("x\nInvalid domain name\n"))
    assert(!WhoisFeatures.isWithWhois("connection Timeout here\n"))
    assert(WhoisFeatures.isWithWhois("Domain Name: X\nRegistrar: R\n"))
    // literal 'source(s)' does NOT match (the pattern's parens are a regex group)
    assert(WhoisFeatures.isWithWhois("no entries found for the selected source(s).\n"))
    assert(!WhoisFeatures.isWithWhois("no entries found for the selected sources.\n"))
    // a row containing 'invalid' is only checked against the invalid list
    assert(WhoisFeatures.isWithWhois("invalid but Timeout too\n"))
  }

  test("timer and cycling") {
    assert(TimerFeatures.extract(Seq("0.25\n\n")) == Vector(0.25))
    assert(CyclingFeatures.extract(Seq("Cycle Redirect times:\nhttp://a:2\n\n")) == Vector(3.0))
  }
}

class TagScannerSpec extends AnyFunSuite {
  test("basic scan, attrs, class list, valueless attr") {
    val tags = TagScanner.scan(
      """<a href="http://x/">t</a><input type=submit disabled><p CLASS="a  b">""")
    assert(tags.map(_.name) == Vector("a", "input", "p"))
    assert(tags(0).getOpt("href").contains("http://x/"))
    assert(tags(1).getOpt("type").contains("submit"))
    assert(tags(1).getOpt("disabled").isEmpty) // valueless → None (bs4)
    assert(tags(2).classList == Vector("a", "b"))
  }
  test("script content is CDATA") {
    val tags = TagScanner.scan("<script>var a = '<a href=\"x\">';</script><a href=\"real\">")
    assert(TagScanner.findAll(tags, "a").size == 1)
    assert(TagScanner.findAll(tags, "a").head.getOpt("href").contains("real"))
  }
  test("CDATA close scan is Python-2 HTMLParser: case-sensitive, strict endtag") {
    // Py2 set_cdata_mode compiles '</\s*script' WITHOUT re.I: an
    // uppercase close never ends the element — everything through the
    // next lowercase </script> (or EOF) stays script data
    val up = TagScanner.scan("<script>x</SCRIPT><a href=\"h\">l</a>")
    assert(TagScanner.findAll(up, "a").isEmpty)
    // endtagfind needs '</\s*name\s*>': junk between name and '>' is data
    val junk = TagScanner.scan("<script>x</script foo><a href=\"h\">l</a></script><b>")
    assert(TagScanner.findAll(junk, "a").isEmpty)
    assert(TagScanner.findAll(junk, "b").size == 1)
    // whitespace forms that DO close: '</ script>' and '</script >'
    val ws = TagScanner.scan("<script>x</ script><a href=\"h1\">" +
      "<script>y</script ><a href=\"h2\">")
    assert(TagScanner.findAll(ws, "a").flatMap(_.getOpt("href")) == Vector("h1", "h2"))
    // a rejected candidate consumes data through its '>' — the second
    // '</script' inside that span is never considered (Py2 resumes at
    // gtpos), so the whole run stays data
    val nested = TagScanner.scan("<script>x</script</script><a href=\"h\">")
    assert(TagScanner.findAll(nested, "a").isEmpty)
  }

  test("title text captured raw") {
    val tags = TagScanner.scan("<title> My Title </title><title>  </title>")
    assert(TagScanner.findAll(tags, "title").map(_.text) == Vector(" My Title ", "  "))
  }
  test("comments and declarations skipped") {
    val tags = TagScanner.scan("<!doctype html><!-- <a href=\"no\"> --><b>")
    assert(tags.map(_.name) == Vector("b"))
  }
  test("self-closing script/title does not swallow following tags") {
    // html.parser dispatches startendtag for <script/> and never enters
    // CDATA mode, so the <a> after it is a real tag
    val tags = TagScanner.scan("<script/><a href=\"x\"><title/><b>")
    assert(tags.map(_.name) == Vector("script", "a", "title", "b"))
    assert(TagScanner.findAll(tags, "title").head.text == "")
  }
  test("CDATA close needs a tag-name boundary (CPython lookahead)") {
    // </scriptx is NOT a terminator; </script > and </script/ are
    val t1 = TagScanner.scan("<script>a</scriptx>b</script ><i>")
    assert(t1.map(_.name) == Vector("script", "i"))
    // bare </script at end-of-input fails the lookahead → rest is CDATA
    val t2 = TagScanner.scan("<script>a<b></script")
    assert(t2.map(_.name) == Vector("script"))
    // whitespace between </ and the name is allowed (</\s*name)
    val t3 = TagScanner.scan("<style>x</ style><u>")
    assert(t3.map(_.name) == Vector("style", "u"))
  }
  test("slash inside an unquoted attr value is not self-closing") {
    val tags = TagScanner.scan("<script src=a/b>hidden<x></script><y>")
    assert(tags.map(_.name) == Vector("script", "y"))
    assert(tags.head.getOpt("src").contains("a/b"))
  }
}

class HttpFeatureSpec extends AnyFunSuite {
  val htmlLines = Vector(
    "<html>",
    "<head><title> My Title </title>",
    "<meta http-equiv=\"Refresh\" content=\"5; url=http://other.com/\">",
    "<link href=\"http://cdn.ext.com/a.css\">",
    "<link href=\"/local.css\">",
    "</head>",
    "<body>",
    "<!-- a comment line -->",
    "<iframe src=\"http://x.com/f\"></iframe>",
    "<form name=\"f1\" id=\"g\" class=\"cls1 cls2\"></form>",
    "<input type=\"submit\">",
    "<a href=\"http://ext1.com/1\">1</a>",
    "<a href=\"http://ext1.com/2\">2</a>",
    "<a href=\"http://e.com/in\">in</a>",
    "<a href=\"#\">null</a>",
    "<a href=\"javascript:void(0)\">null2</a>",
    "<img src=\"http://img.ext.com/i.png\">",
    "<script src=\"http://js.ext.com/j.js\"></script>",
    " <script>",
    "var x = document.getElementById(\"g\");",
    " </script>")
  val block = htmlLines.mkString("\n") + "\n"

  test("striped html drops whole-line comments") {
    val striped = HttpFeatures.stripedHtmlStr(block)
    assert(striped.split("\n", -1).length == 20)
    assert(!striped.contains("comment line"))
  }

  test("tag-block row counting with the >0 quirks") {
    val striped = HttpFeatures.stripedHtmlStr(block)
    assert(HttpFeatures.calTagBlockRows(striped, "script") == 4) // 1 single-line + 3-row block
    assert(HttpFeatures.calTagBlockRows(striped, "style") == 0)
    // tag at column 0 is invisible (row.find(tag) > 0)
    assert(HttpFeatures.calTagBlockRows("script at zero", "script") == 0)
  }

  test("script_block slice quirk: late blocks yield no rows") {
    val sb = HttpFeatures.calTagBlock(block, "script")
    assert(sb == Vector("<script src=\"http://js.ext.com/j.js\"></script>"))
  }

  test("full 16-feature http vector") {
    val v = HttpFeatures.extract(Seq(block), "http://e.com/\n")
    val striped = HttpFeatures.stripedHtmlStr(block)
    val expected = Vector(
      Py.byteLen(striped) / 1024.0, // get_kbytes
      1.0, // is_frame (iframe)
      1.0, // is_meta_redirect
      0.0, // is_meta_base64_redirect
      1.0, // is_form (form tag)
      0.0, // is_input_submit (Tag.tag quirk)
      0.0, // is_button_submit
      0.5, // script rate: js.ext.com 1 of 2 script tags
      4.0 / 20.0, // script_block_rate
      0.0, // style_block_rate
      0.4, // external a: ext1.com 2 of 5
      0.4, // null a: '#' + void( → 2 of 5
      0.5, // link: cdn.ext.com 1 of 2
      1.0, // img: img.ext.com 1 of 1
      0.0, // get_title_feature: constant (no title model)
      0.0) // form_in_javascript: getElementById row lost to slice quirk
    assert(v.size == 16)
    for (i <- v.indices) assert(math.abs(v(i) - expected(i)) < 1e-12, s"feature $i: ${v(i)} != ${expected(i)}")
  }

  test("base64 meta redirect flips features 2/3") {
    val b = "<meta http-equiv=\"refresh\" content=\"0; url=data:text/html;base64,AAAA\">\n"
    val v = HttpFeatures.extract(Seq(b), "http://e.com/\n")
    assert(v(2) == 0.0 && v(3) == 1.0)
  }

  test("form_in_javascript cross-type equality: non-ASCII id never matches") {
    // python2 compares a bs4-UNICODE attr against a BYTE-str regex
    // group: u'ñ' == 'ñ'.encode('utf-8') ascii-decodes the
    // byte side, fails, and returns False — so a non-ASCII id
    // referenced from script is NOT a form_in_javascript hit, even
    // though the decoded texts look equal
    // single-char id: the reference iterates id VALUES per character,
    // so only 1-char ids can ever match (quirk kept by formIdChars);
    // script opens at row 1 so the [begin : i-begin+1] slice quirk
    // keeps the getElementById row inside the captured block
    val b = Vector(
      "<x>",
      " <script>",
      "var a=document.getElementById('ñ');",
      " </script>",
      "<form id=\"ñ\"></form>").mkString("\n") + "\n"
    assert(!HttpFeatures.formInJavascript(HttpFeatures.buildState(b)))
    // the ASCII twin matches
    val ok = b.replace("ñ", "n")
    assert(HttpFeatures.formInJavascript(HttpFeatures.buildState(ok)))
  }

  test("form_in_javascript positive via early script block") {
    val b = Vector(
      "<x>",
      " <script>",
      "var a=document.getElementsByTagName(\"form\");",
      " </script>").mkString("\n") + "\n"
    assert(HttpFeatures.formInJavascript(HttpFeatures.buildState(b)))
    val v = HttpFeatures.extract(Seq(b), "http://e.com/\n")
    assert(v(15) == 1.0)
  }

  test("document.write form detection (first-line-only quirk)") {
    val b = "<x>\n<script>document.write(\"<form name=q>\")</script>\n"
    val st = HttpFeatures.buildState(b)
    assert(HttpFeatures.formInJavascriptWrite(st))
    val v = HttpFeatures.extract(Seq(b), "http://e.com/\n")
    assert(v(4) == 1.0) // is_form via script write
  }

  test("multi-block merge accumulates lists and counters") {
    val b2 = "<a href=\"http://ext1.com/3\">3</a>\n"
    val v = HttpFeatures.extract(Seq(block, b2), "http://e.com/\n")
    // a tags: 6 total, ext1.com now 3 → 0.5
    assert(math.abs(v(10) - 0.5) < 1e-12)
    // bytes merged
    val exp = (Py.byteLen(HttpFeatures.stripedHtmlStr(block)) +
      Py.byteLen(HttpFeatures.stripedHtmlStr(b2))) / 1024.0
    assert(math.abs(v(0) - exp) < 1e-12)
  }

  test("empty blocks zero-fill") {
    assert(HttpFeatures.extract(Nil, "http://e.com/\n") == Vector.fill(16)(0.0))
  }
}

class EndToEndFeatureSpec extends AnyFunSuite {
  test("render → split → 30-feature vector") {
    val content = "<html>\n<title>Verify Your Account</title>\n<form name=\"login\"></form>\n</html>"
    val hop = HeaderHop("http://e.com/a", 11, 200, "OK", Seq("Content-Type" -> "text/html"))
    val net = NetInfo(
      "\tserial = 2024010101", "Name:\te.com\nAddress: 1.2.3.4",
      "e.com has address 1.2.3.4", "Domain Name: E.COM",
      hop, Nil, 0.5)
    val text = SampleRender.render("http://e.com/a", content, net)
    val cfg = ExtractConfig(java.time.Instant.parse("2024-03-01T00:00:00Z").getEpochSecond)
    val v = ExtractorSet5.extract(text, cfg)
    assert(v.length == 30)
    assert(v(0) == 1.0) // is_http_connection
    assert(v(2) == 1.0) // dots(e.com) = 1
    assert(v(9) == 1.0) // is_form
    assert(v(21) == 0.0) // header is_redirect (200)
    assert(v(22) == 1.0 && v(23) == 0.0) // host ipv4/ipv6
    assert(v(24) == 0.0) // is_alias (no canonical line)
    assert(v(25) == 0.0) // is_weird_serial (serial present quirk)
    assert(v(26) == 60.0) // day age
    assert(v(27) == 1.0) // whois ok
    assert(v(28) == 0.5) // timer
    assert(v(29) == 0.0) // no cycling block
  }

  test("missing blocks zero-fill their slots of the 30-value vector") {
    val text = "http://user@pay-pal9.example.com/p/1\n" +
      "\n<=HTTP BEGIN=>\n" +
      "<html><head><title>Welcome</title></head><body><a href=\"http://x.com/\">x</a></body></html>" +
      "\n<=HTTP END=>\n"
    val v = ExtractorSet5.extractFromBlocks(Blocks.splitText(text), ExtractConfig(0L))
    assert(v.length == ExtractorSet5.size && v.length == 30)
    // header, host, nslookup, whois, timer and cycling blocks are absent
    for (i <- 21 until 30) assert(v(i) == 0.0, s"${ExtractorSet5.featureNames(i)} ($i)")
    // the url and http blocks are present and feed their slots
    assert(v(0) == 1.0) // is_http_connection
    assert(v(5) > 0.0) // get_kbytes
  }
}
