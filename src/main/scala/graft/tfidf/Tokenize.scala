package graft.tfidf

import graft.py.Py

/** The reference's 33-delimiter title tokenizer, shared by TF-IDF
  * training (`/root/reference/tfidf-elm.py:13-22`, `split_into_term`)
  * and the title feature (`extractors5/http_feature.py:455-463`,
  * `__split_title`): strip, replace each delimiter with a space, split
  * on single spaces, drop empties, lower-case. */
object Tokenize {

  val delimiters: Vector[Char] = Vector(
    '/', '?', '.', '=', '-', '_', '!', ':', ';', '|', '(', ')', ',', '@',
    '"', '\'', '[', ']', '，', '、', '！', '【', '】', '“', '”', '・', '『',
    '』', '｜', '‹', '›', '丨', '¥')

  private val delimSet: Set[Char] = delimiters.toSet

  /** Tokens of one title line. Both reference call sites run on
    * UNICODE strings (tfidf-elm.py reads via codecs.open utf-8;
    * extractors5 titles are BeautifulSoup `.text`), so the strip is
    * Python 2 `unicode.strip()` — NBSP/NEL-padded titles lose the
    * padding before tokenization. */
  def terms(title: String): Vector[String] = {
    val t = Py.stripUni(title)
    val sb = new StringBuilder(t.length)
    for (c <- t) sb += (if (delimSet(c)) ' ' else c)
    // python split(' ') (explicit separator) then `if i` filter
    sb.result().split(" ", -1).iterator.filter(_.nonEmpty).map(Py.lowerUni).toVector
  }
}
