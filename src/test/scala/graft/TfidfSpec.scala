package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.tfidf._

class TokenizeSpec extends AnyFunSuite {
  test("delimiters replaced, lower-cased, empties dropped") {
    assert(Tokenize.terms("  PayPal - Secure/Login!  ") == Vector("paypal", "secure", "login"))
    assert(Tokenize.terms("a.b,c|d[e]f(g)") == Vector("a", "b", "c", "d", "e", "f", "g"))
    assert(Tokenize.terms("【安全】銀行・ログイン") == Vector("安全", "銀行", "ログイン"))
    assert(Tokenize.terms("") == Vector())
  }

  test("strip is unicode.strip: NBSP/NEL padding drops, interior stays") {
    // both reference call sites are unicode (codecs.open utf-8 /
    // BeautifulSoup .text): u'\xa0Login\xa0'.strip() -> u'Login'
    assert(Tokenize.terms("\u00A0\u0085 Secure Login\u202F") ==
      Vector("secure", "login"))
    // interior NBSP is NOT a delimiter or split space: it stays in the token
    assert(Tokenize.terms("a\u00A0b") == Vector("a\u00a0b"))
    // token lowering is the simple unicode mapping: 'İ' -> 'i', not "i̇"
    assert(Tokenize.terms("\u0130stanbul Bankas\u0131") ==
      Vector("istanbul", "bankas\u0131"))
  }
}

/** The shipped SQL TF-IDF (`tok_terms` → `term_df` → `tfidf_micro` →
  * `term_select`) against the reference semantics, recomputed in Scala
  * on sf0.001: binary TF over each doc's term set, sklearn
  * `smooth_idf=False` (`idf = ln(n/df) + 1`, not Spark ML's
  * `ln((n+1)/(df+1))`), L2-normalized rows, K% selection by a term's
  * max tfidf over all docs. */
class TfIdfSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, dir)

  private lazy val tfidfMicro: Map[(Long, String), Long] = {
    import spark.implicits._
    q("tfidf_micro").select(col("doc_id").cast("long"), col("term"), col("tfidf_micro"))
      .as[(Long, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
  }

  test("idf = ln(n/df) + 1 (no smoothing)") {
    import spark.implicits._
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val idf = q("term_df").select(col("term"), col("df").cast("long")).as[(String, Long)]
      .collect().map { case (t, df) => t -> (math.log(n.toDouble / df) + 1.0) }.toMap
    val docTerms = q("tok_terms").select(col("doc_id").cast("long"), col("term"))
      .as[(Long, String)].collect().groupMap(_._1)(_._2)
    assert(tfidfMicro.keySet == docTerms.toSeq.flatMap { case (d, ts) => ts.map(d -> _) }.toSet)
    for ((d, ts) <- docTerms) {
      val nrm = math.sqrt(ts.map(t => idf(t) * idf(t)).sum)
      for (t <- ts) {
        val want = math.round(1e6 * idf(t) / nrm)
        assert(math.abs(tfidfMicro((d, t)) - want) <= 1, s"doc $d term '$t'")
      }
    }
  }

  test("rows L2-normalized") {
    for ((d, vs) <- tfidfMicro.groupMap(_._1._1)(_._2)) {
      val sq = vs.iterator.map(v => (v / 1e6) * (v / 1e6)).sum
      assert(math.abs(sq - 1.0) < 1e-4, s"doc $d: sum of squares $sq")
    }
  }

  test("term_select keeps exactly the terms whose max tfidf_micro >= 500000") {
    import spark.implicits._
    val maxByTerm = tfidfMicro.groupMapReduce(_._1._2)(_._2)(math.max)
    val want = maxByTerm.collect { case (t, mx) if mx >= 500000L => t }.toSet
    assert(want.nonEmpty && want.size < maxByTerm.size) // the cut splits the vocab
    val got = q("term_select").select("term").as[String].collect()
    assert(got.length == got.toSet.size)
    assert(got.toSet == want)
  }

  /** Deterministic Zipf (s = 1) documents over the terms `w1`…`w<vocab>`
    * (`w1` the most frequent), 8 to 23 tokens each, drawn from a 64-bit
    * LCG. sf0.001's 31-term vocabulary puts no term between 0.45 and 0.5;
    * this one spreads the max tfidf across every cut tested below. */
  private def zipfDocs(n: Int = 250, vocab: Int = 250): Seq[String] = {
    var x = 1L
    def u(): Double = {
      x = x * 6364136223846793005L + 1442695040888963407L
      (x >>> 11).toDouble / (1L << 53)
    }
    val cum = (1 to vocab).scanLeft(0.0)(_ + 1.0 / _).tail.toArray
    Seq.fill(n) {
      val k = 8 + (u() * 16).toInt
      Seq.fill(k) {
        val i = java.util.Arrays.binarySearch(cum, u() * cum.last)
        "w" + ((if (i >= 0) i else -i - 1) + 1)
      }.mkString(" ")
    }
  }

  test("term_select and the S11 term file split a Zipf vocabulary at their cuts") {
    import spark.implicits._
    SparkTestBase.withTempDir("graft-zipf-") { zdir =>
      val src = java.nio.file.Paths.get(dir)
      val others = java.nio.file.Files.list(src)
      try others.iterator().forEachRemaining { p =>
        if (p.getFileName.toString != "documents.parquet")
          java.nio.file.Files.copy(p, java.nio.file.Paths.get(zdir).resolve(p.getFileName))
      } finally others.close()
      val docs = zipfDocs()
      docs.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "zipf", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.parquet(s"$zdir/documents.parquet")

      // the reference rule in Scala: binary tf, idf = ln(n/df) + 1 (or
      // the smoothed ln((n+1)/(df+1)) + 1 it must differ from), L2 rows,
      // a term's score its max tfidf over all docs, in micro-units
      val sets = docs.map(_.split(' ').toSet)
      val df = sets.flatten.groupMapReduce(identity)(_ => 1L)(_ + _)
      val n = docs.size.toDouble
      def maxMicro(idf: Long => Double): Map[String, Long] =
        sets.flatMap { ts =>
          val nrm = math.sqrt(ts.iterator.map(t => idf(df(t)) * idf(df(t))).sum)
          ts.map(t => t -> math.round(idf(df(t)) / nrm * 1e6))
        }.groupMapReduce(_._1)(_._2)(math.max)
      val mx = maxMicro(d => math.log(n / d) + 1.0)
      def atLeast(cut: Long) = mx.collect { case (t, m) if m >= cut => t }.toSet
      // every cut splits the vocabulary, a 0.45 cut keeps more than 0.5,
      // and the smoothed idf selects a different set at 0.5
      for ((lo, hi) <- Seq((0L, 300000L), (300000L, 450000L), (450000L, 500000L), (500000L, Long.MaxValue)))
        assert(mx.values.exists(m => m >= lo && m < hi), s"no term scores in [$lo, $hi)")
      val smoothed = maxMicro(d => math.log((n + 1) / (d + 1)) + 1.0)
      assert(smoothed.collect { case (t, m) if m >= 500000L => t }.toSet != atLeast(500000L))

      val sel = SparkEntry.queries("term_select")(spark, zdir)
        .select(col("term"), col("df").cast("long")).as[(String, Long)].collect()
      assert(sel.toMap == atLeast(500000L).map(t => t -> df(t)).toMap)
      assert(sel.length == sel.toMap.size)

      val want = atLeast(300000L).toSeq.sorted // ASCII terms: byte order
      val row = SparkEntry.queries("s11_term_file")(spark, zdir)
        .as[(Long, Long, Long, String)].collect().toSeq
      assert(row == Seq((want.size.toLong, want.size - 1L, want.size.toLong, want.mkString(" "))))
    }
  }
}

/** (features, 0/1 label) training rows as a 2-partition Dataset. */
private object TrainRows {
  def apply(x: Seq[Array[Double]], y: Seq[Double]) = {
    val spark = SparkTestBase.spark
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(x.zip(y), 2))
  }

  /** Whether the session's cache manager holds an entry for `ds`. */
  def cached(ds: org.apache.spark.sql.Dataset[_]): Boolean = {
    val cds = ds.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    cds.sparkSession.sharedState.cacheManager.lookupCachedData(cds).nonEmpty
  }
}

class ElmSpec extends AnyFunSuite {
  test("deterministic under fixed seed; fits separable data") {
    val x = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 1.0), Array(0.0, 0.0))
    val y = Array(1.0, 0.0, 1.0, 0.0)
    val ds = TrainRows(x, y)
    val m1 = Elm.trainDistributed(ds, nFeatures = 2, nHidden = 10, seed = 7)
    val m2 = Elm.trainDistributed(ds, nFeatures = 2, nHidden = 10, seed = 7)
    for (r <- x.indices) {
      assert(m1.predict(x(r)) == m2.predict(x(r)))
      assert(m1.predict(x(r)) == y(r))
    }
  }

  test("ELM and LC-ELM training reject an empty training set") {
    val empty = TrainRows(Nil, Nil)
    val trainers = Seq[() => Any](
      () => Elm.trainDistributed(empty, nFeatures = 2),
      () => LcElm.trainDistributed(empty, nFeatures = 2))
    for (train <- trainers) {
      val e = intercept[IllegalArgumentException](train())
      assert(e.getMessage.endsWith("empty training set"))
      // a throwing pass leaves no cache entry behind
      assert(!TrainRows.cached(empty))
    }
  }
}

class LcElmSpec extends AnyFunSuite {
  private val x = Array(
    Array(1.0, 0.1), Array(0.9, 0.0), Array(1.1, 0.2), Array(0.8, 0.1),
    Array(0.0, 1.0), Array(0.1, 0.9), Array(0.2, 1.1), Array(0.0, 0.8))
  private val y = Array(1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0)

  test("deterministic; members vote ±1; combiner fits separable data") {
    val ds = TrainRows(x, y)
    val m1 = LcElm.trainDistributed(ds, nFeatures = 2, nEstimators = 7, nHidden = 10, seed = 11)
    val m2 = LcElm.trainDistributed(ds, nFeatures = 2, nEstimators = 7, nHidden = 10, seed = 11)
    for (r <- x.indices) {
      assert(m1.f(x(r)).forall(v => v == 1.0 || v == -1.0))
      assert(m1.predict(x(r)) == m2.predict(x(r)))
    }
    // positive class rows must predict 1 (fitted ≈ 1 → sign > 0);
    // the reference quirk (lc-elm.py:61-63,101-103) makes class-0 rows
    // sit at fitted ≈ 0 — assert only the stable half
    for (r <- 0 until 4) assert(m1.predict(x(r)) == 1.0, s"row $r")
  }

  test("training releases only its own cache: a caller-cached Dataset stays cached") {
    val own = TrainRows(x, y).persist()
    try {
      LcElm.trainDistributed(own, nFeatures = 2, nEstimators = 3, nHidden = 4)
      assert(TrainRows.cached(own))
    } finally own.unpersist()
    val fresh = TrainRows(x, y)
    LcElm.trainDistributed(fresh, nFeatures = 2, nEstimators = 3, nHidden = 4)
    assert(!TrainRows.cached(fresh))
  }
}

class FeatureVectorsSpec extends AnyFunSuite {
  import graft.sources.FeatureVectors

  test("plain numeric line parses; booleans coerce 0/1") {
    assert(FeatureVectors.parseLine("[1, 2.5, true, false]").get.toSeq ==
      Seq(1.0, 2.5, 1.0, 0.0))
  }

  test("element [-4] list is spliced OUT (lc-elm.py:188-191)") {
    assert(FeatureVectors.parseLine("""[1, 2, [9, 9], 3, 4, 5]""").get.toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    // a list NOT at [-4] is untouched → malformed numeric coercion is
    // the caller's concern; here [-4] is scalar so splice does not fire
    assert(FeatureVectors.parseLine("""[1, 2, 3, 4]""").get.toSeq ==
      Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("blank and malformed lines drop; distributed read returns vec rows") {
    assert(FeatureVectors.parseLine("   ").isEmpty)
    assert(FeatureVectors.parseLine("{\"not\": \"array\"}").isEmpty)
    // non-numeric ELEMENTS are malformed too (asDouble would silently
    // coerce them to 0.0 and corrupt the training matrix)
    assert(FeatureVectors.parseLine("[1, \"oops\", 3]").isEmpty)
    assert(FeatureVectors.parseLine("[1, null, 3]").isEmpty)
    assert(FeatureVectors.parseLine("[[7], 1]").isEmpty) // list NOT at [-4]
    assert(FeatureVectors.parseLine("[1, [7], 2, 3, 4]").toSeq.map(_.toSeq) ==
      Seq(Seq(1.0, 2.0, 3.0, 4.0))) // list AT [-4] splices out
    val spark = SparkTestBase.spark
    val p = java.nio.file.Files.createTempDirectory("fv-").resolve("v.jsonl")
    java.nio.file.Files.writeString(p,
      "[1, 2, [7], 3, 4, 5]\n\n[0.5, true]\nnot json\n")
    val df = FeatureVectors.read(spark, p.toString)
    val rows = df.collect().map(_.getSeq[Double](0).toSeq).sortBy(_.length)
    assert(rows.length == 2)
    assert(rows.contains(Seq(1.0, 2.0, 3.0, 4.0, 5.0)))
    assert(rows.contains(Seq(0.5, 1.0)))
  }
}

class TermFileSpec extends AnyFunSuite {
  import java.nio.file.Files

  test("round trip in the reference's exact shape; refuses overwrite") {
    val dir = Files.createTempDirectory("tf-")
    val p = dir.resolve("tfidf 50% term")
    TermFile.write(p, Seq(0, 2, 5), Seq("verify", "account", "login"))
    assert(Files.readString(p) == "[0, 2, 5]\nverify account login")
    val (idx, terms) = TermFile.read(p)
    assert(idx == Vector(0, 2, 5) && terms == Vector("verify", "account", "login"))
    intercept[IllegalStateException] { TermFile.write(p, Seq(1), Seq("x")) }
  }

  test("parses the shipped reference corpora shape") {
    val (idx, terms) = TermFile.parse("[0, 1, 2]\nfoo bar baz")
    assert(idx == Vector(0, 1, 2) && terms == Vector("foo", "bar", "baz"))
    assert(TermFile.parse("[]\n")._2.isEmpty)
  }
}

class TitlesSpec extends AnyFunSuite {
  test("title-list scan keeps blank lines as empty titles, strips each, preserves order") {
    val spark = SparkTestBase.spark
    val p = java.nio.file.Files.createTempDirectory("titles-").resolve("t.txt")
    java.nio.file.Files.writeString(p, "  Verify your account \n\nWelcome page\n")
    val rows = graft.sources.Titles.read(spark, p.toString)
      .orderBy("line_no").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("Verify your account", "", "Welcome page"))
    // line_no is the readlines() index: contiguous from 0
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }
}
