package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: language ID, quality scoring, token counting and
  * document fingerprinting. Everything here is row-local (narrow, no
  * shuffle, codegen'd column expressions where possible) — at 100 TB
  * these run as one map stage fused into the scan.
  *
  * The SQL-expressible ops are written as column expressions whose
  * DuckDB equivalents live in `SparkEntry.oracleSql` (the substring-
  * occurrence counts use the length/replace trick so both engines
  * compute the identical integers with no regex-dialect divergence).
  */
object TextAnalysis {

  /** Marker words per language for the n-gram/stopword language-ID
    * heuristic. Deterministic, tiny, broadcast-free (literal folding). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " la "),
    "es" -> Seq(" el ", " y ", " de "))

  /** Occurrence count of `needle` via (len(s) - len(replace(s, needle)))
    * / len(needle) — shared semantics with the DuckDB oracle. */
  private def occ(textCol: String, needle: String): String = {
    val lit = needle.replace("'", "''")
    s"(length($textCol) - length(replace($textCol, '$lit', ''))) / ${needle.length}"
  }

  /** Language-ID: score = sum of marker occurrences per language over
    * ' ' || lower(text) || ' '; predicted = argmax with first-listed
    * language winning ties. Output: id, per-lang scores, lang_pred. */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val padded = s"(' ' || lower($textCol) || ' ')"
    val scored = langMarkers.foldLeft(docs.select(col(idCol), col(textCol))) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang",
          expr(markers.map(m => occ(padded, m)).mkString("cast(", " + ", " as bigint)")))
    }
    val pred = langMarkers.map(_._1).foldRight("'und'") { (lang, els) =>
      val isMax = langMarkers.map(_._1).filter(_ != lang)
        .map { other =>
          val cmp = if (langMarkers.indexWhere(_._1 == other) < langMarkers.indexWhere(_._1 == lang)) ">" else ">="
          s"score_$lang $cmp score_$other"
        }.mkString(" AND ")
      s"CASE WHEN score_$lang > 0 AND $isMax THEN '$lang' ELSE $els END"
    }
    scored.withColumn("lang_pred", expr(pred)).drop(textCol)
  }

  /** Quality heuristics: char count, word count, mean word length
    * (micro-units), stopword ratio (micro), alpha ratio (micro).
    * All integers so the DuckDB oracle compares exactly. */
  def quality(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = s"size(filter(split($textCol, ' '), w -> w <> ''))"
    val stops = Seq(" the ", " a ", " and ", " of ", " to ")
      .map(m => occ(s"(' ' || lower($textCol) || ' ')", m)).mkString("(", " + ", ")")
    docs.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars_q"),
      expr(words).cast("long").as("n_words"),
      expr(s"cast(round(length(replace($textCol, ' ', '')) * 1e6 / greatest($words, 1), 0) as bigint)")
        .as("mean_word_len_micro"),
      expr(s"cast(round($stops * 1e6 / greatest($words, 1), 0) as bigint)").as("stop_ratio_micro"),
      expr(s"cast(round((length($textCol) - length(regexp_replace($textCol, '[a-zA-Z]', ''))) * 1e6 / greatest(length($textCol), 1), 0) as bigint)")
        .as("alpha_ratio_micro"))
  }

  /** Token counts: whitespace tokens and BPE-ish subword pieces
    * (runs of word chars, digits, or single punctuation — the classic
    * GPT-2-style pre-tokenizer shape, simplified to a shared-dialect
    * regex). */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      expr(s"size(filter(split($textCol, ' '), w -> w <> ''))").cast("long").as("ws_tokens"),
      expr(s"size(regexp_extract_all($textCol, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0))")
        .cast("long").as("bpe_tokens"))

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03): the minimum
    * gram hash per sliding window of `w` grams — the distinct selected
    * hashes identify the document robustly under local edits.
    * Row-local. Gram hash = md5Hex(substr(text, i, k))
    * ([[PortableHash]]) with the shingle-style short-text rule
    * (`substr(text, i, k)` for i in 1..max(len-k+1, 1)); window minima
    * are lexicographic on the hex strings (= DuckDB varchar order).
    * Returns the DISTINCT selected gram hashes, sorted — the exact set
    * a SQL `min() OVER (ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING)`
    * replica selects. */
  def winnow(text: String, k: Int = 8, w: Int = 16): Array[String] = {
    // (unlike Dedup.shingles, winnowing needs the positional sequence)
    val n = math.max(text.length - k + 1, 1)
    val seq = new Array[String](n)
    var i = 0
    while (i < n) {
      seq(i) = PortableHash.md5Hex(
        text.substring(i, math.min(i + k, text.length)))
      i += 1
    }
    val sel = new java.util.TreeSet[String]()
    var start = 0
    val lastStart = seq.length - math.min(w, seq.length)
    while (start <= lastStart) {
      var mn = seq(start); var j = start + 1
      val end = math.min(start + w, seq.length)
      while (j < end) { if (seq(j).compareTo(mn) < 0) mn = seq(j); j += 1 }
      sel.add(mn)
      start += 1
    }
    sel.toArray(new Array[String](sel.size))
  }

  /** Fingerprint each document: distinct winnowed-gram count and one
    * md5 over the sorted selection (comma-joined) — both replicable in
    * DuckDB, which is what lets the driver oracle this operator. */
  def fingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, w: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, t) =>
        val hs = winnow(t, k, w)
        (id, hs.length.toLong, PortableHash.md5Hex(hs.mkString(",")))
      }
      .toDF("doc_id", "n_fingerprints", "fingerprint_hex")
  }
}
