package graft.features

import graft.parse.Blocks
import graft.py.Py

/** Per-sample feature-vector assembly, mirroring
  * `/root/reference/feature_extractor.py:69-101` (`FeatureExtractor.run`)
  * in numeric mode (bools → 0/1, `extractor/__init__.py:22-29`).
  *
  * The reference iterates extractors in CPython2 dict-hash order
  * (`feature_extractor.py:78` — a quirk, SURVEY.md §3.2); our engine
  * fixes the documented canonical order:
  * url, http, header, host, nslookup, whois, timer, cycling.
  *
  * Missing blocks zero-fill to the extractor's feature count (:93-96).
  * (For `header`/`timer` the reference would crash constructing the
  * probe instance on '' — zero-fill is our defined substitute.)
  *
  * Default set = extractors5 (`feature_extractor.py:14`), 30 values:
  * 5 url + 16 http + 1 header + 2 host + 3 nslookup + 1 whois +
  * 1 timer + 1 cycling.
  */
object ExtractorSet5 {

  val featureNames: Vector[String] = Vector(
    // url (extractors5/url_feature.py:8)
    "is_http_connection", "is_ip_address", "dots", "is_special_words", "is_hexadecimal",
    // http (extractors5/http_feature.py:59)
    "get_kbytes", "is_frame", "is_meta_redirect", "is_meta_base64_redirect",
    "is_form", "is_input_submit", "is_button_submit",
    "same_extern_domain_script_rate", "script_block_rate", "style_block_rate",
    "external_a_tag_same_domain", "null_a_tag",
    "same_external_domain_link_rate", "same_external_domain_img_rate",
    "get_title_feature", "get_form_in_javascript",
    // header
    "is_redirect",
    // host
    "ipv4_numbers", "ipv6_numbers",
    // nslookup
    "is_alias", "is_weird_serial", "get_day_age",
    // whois
    "is_with_whois",
    // timer
    "get_time",
    // cycling
    "is_cycling")

  val size: Int = featureNames.size // 30

  /** Extract the full 30-value vector from rendered sample text. */
  def extract(sampleText: String, cfg: ExtractConfig): Array[Double] = {
    val data = Blocks.splitText(sampleText)
    extractFromBlocks(data, cfg)
  }

  def extractFromBlocks(data: Blocks.BlockData, cfg: ExtractConfig): Array[Double] = {
    val url = data.url // raw first line, trailing '\n' kept (readlines)
    def blocks(k: String): Vector[String] = data.blocks.getOrElse(k, Vector.empty)
    val out = Array.newBuilder[Double]
    out ++= UrlFeatures.extract(url)
    out ++= HttpFeatures.extract(blocks("http"), url)
    out ++= HeaderFeatures.extract(blocks("header"))
    out ++= HostFeatures.extract(blocks("host"))
    out ++= NslookupFeatures.extract(blocks("nslookup"), cfg.asOfEpochSeconds)
    out ++= WhoisFeatures.extract(blocks("whois"))
    out ++= TimerFeatures.extract(blocks("timer"))
    out ++= CyclingFeatures.extract(blocks("cycling"))
    out.result()
  }
}
