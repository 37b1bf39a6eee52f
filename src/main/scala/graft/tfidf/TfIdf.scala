package graft.tfidf

// This file holds only [[TermFile]]. The TF-IDF itself (binary TF over
// each doc's term set, unsmoothed `idf = ln(n/df) + 1`, L2-normalized
// rows, K% term selection) is SQL: `SparkEntry.tfidfCtes` and the
// `tok_terms`, `term_df`, `tfidf_micro`, `term_select` and `vocab_hits`
// queries, each with a DuckDB oracle.

/** S11: the `tfidf K% term` file format (`tfidf-elm.py:76-106`):
  * line 1 = Python-repr JSON list of kept column indices
  * (`[0, 1, 2]`, spaces after commas), line 2 = space-joined terms.
  * The reference REFUSES to overwrite an existing file (:81-83) —
  * mirrored here by throwing; read returns (indices, terms). The
  * shipped corpora at `/root/reference/tfidf2 0%..90% term` use this
  * exact shape. Small driver-side artifact → broadcast on use (J1). */
object TermFile {

  def render(indices: Seq[Int], terms: Seq[String]): String =
    indices.mkString("[", ", ", "]") + "\n" + terms.mkString(" ")

  /** Write, refusing overwrite like the reference. */
  def write(path: java.nio.file.Path, indices: Seq[Int], terms: Seq[String]): Unit = {
    if (java.nio.file.Files.exists(path))
      throw new IllegalStateException(s"$path existed")
    java.nio.file.Files.writeString(path, render(indices, terms),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  def parse(content: String): (Vector[Int], Vector[String]) = {
    val lines = content.split("\n", 2)
    val idx = lines(0).trim.stripPrefix("[").stripSuffix("]").split(",")
      .iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt).toVector
    val terms =
      if (lines.length < 2) Vector.empty
      else lines(1).trim match {
        case "" => Vector.empty
        case t => t.split(" ").toVector
      }
    (idx, terms)
  }

  def read(path: java.nio.file.Path): (Vector[Int], Vector[String]) =
    parse(java.nio.file.Files.readString(path, java.nio.charset.StandardCharsets.UTF_8))
}
