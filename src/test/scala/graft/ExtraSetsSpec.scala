package graft

import graft.features._
import org.scalatest.funsuite.AnyFunSuite

/** URL features of extractor sets 1/2s/3/4 — hand-computed expectations
  * against the cited reference semantics (SURVEY.md §2.6). */
class ExtraSetsSpec extends AnyFunSuite {

  test("set1 url: long-url threshold, at-symbol, feature order") {
    val long = "http://e.com/" + "a" * 120
    val v = UrlFeatureSets.set1(long)
    assert(v(0) == 1.0) // is_long_url (>=127)
    assert(UrlFeatureSets.set1("http://e.com/a")(0) == 0.0)
    assert(UrlFeatureSets.set1("http://u@e.com/x")(4) == 1.0) // is_at_symbol
  }

  test("set2s url: 3-way buckets") {
    // dots: <2 → 1, ==2 → 0, >2 → -1 (extractors2s/url_feature.py:59-69)
    assert(UrlFeatureSets.set2s("http://e.com/x")(1) == 1.0)
    assert(UrlFeatureSets.set2s("http://www.e.co.uk/x")(1) == 0.0) // www stripped → e.co.uk → 2 dots
    assert(UrlFeatureSets.set2s("http://a.b.c.d.com/x")(1) == -1.0)
    // url_length: <54 → 1, >75 → 0, else -1 (:148-155)
    assert(UrlFeatureSets.set2s("http://e.com/x")(3) == 1.0)
    assert(UrlFeatureSets.set2s("http://e.com/" + "a" * 80)(3) == 0.0)
    assert(UrlFeatureSets.set2s("http://e.com/" + "a" * 50)(3) == -1.0)
    // ip_or_hex
    assert(UrlFeatureSets.set2s("http://1.2.3.4/x")(0) == 1.0)
  }

  test("set4 url: is_slashes needs a path slash after authority") {
    assert(UrlFeatureSets.set4("http://e.com/x")(3) == 1.0)
    assert(UrlFeatureSets.set4("http://e.com")(3) == 0.0)
  }

  test("set3 url: brand, typo, multi-TLD quirk, path length") {
    val names = UrlFeatureSets.set3Features.map(_._1)
    def f(url: String, n: String) = UrlFeatureSets.set3(url)(names.indexOf(n))
    assert(f("http://paypal-secure.evil.com/x", "get_brandname") == 1.0)
    assert(f("http://plain.example.org/x", "get_brandname") == 0.0)
    // typo of 'google' (skipLetter): gogle
    assert(f("http://www.gogle-login.com/x", "get_typos") == 1.0)
    // uppercase TLD list vs lowercase domain: never >1 (case quirk)
    assert(f("http://shop.com.net.org/x", "get_multiple_tld") == 0.0)
    // but an uppercase domain CAN fire it
    assert(f("http://SHOP.COM.NET.ORG/x", "get_multiple_tld") == 1.0)
    // the FULL IANA registry is carried (extractors3/url_feature.py:73-228)
    assert(UrlFeatureSets.tlds.size == 1530)
    assert(UrlFeatureSets.tlds.head == ".AAA" && UrlFeatureSets.tlds.last == ".ZW")
    // multi-TLD positive from deep-registry entries (.ACCOUNTANTS ⊃ .AC
    // and .ACCOUNTANT; .ABOGADO from the long tail)
    assert(f("http://X.ACCOUNTANTS.ABOGADO/x", "get_multiple_tld") == 1.0)
    // path length after first '/' (exclusive of it)
    assert(f("http://e.com/abc", "get_path_domain_length") == 3.0)
    assert(f("http://e.com", "get_path_domain_length") == 0.0)
    assert(f("http://" + "a" * 30 + ".com/x", "get_long_url") == 1.0)
  }

  test("typo generators mirror the Python methods incl. doubleLetter wrap quirk") {
    import UrlFeatureSets.TypoGenerator._
    assert(skipLetter("abc") == Seq("bc", "ac", "ab"))
    assert(wrongKey("ab").contains("zb"))
    assert(insertedKey("ab").contains("axb"))
    // doubleLetter i=0 prepends the LAST char (Python s[-1] quirk)
    assert(doubleLetter("ab").head == "bab")
    assert(reverseLetter("abc") == Seq("bac", "acb"))
    assert(wrongVowel("go").contains("ga"))
  }
}
