package graft.tfidf

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.storage.StorageLevel

/** Extreme Learning Machine, the architecture+formula contract of the
  * reference's `ELMClassifier(activation_func='sigmoid')`
  * (`/root/reference/tfidf-elm.py:117-121`; SURVEY.md §2.9): a random
  * hidden layer `H = σ(X·Wᵀ + b)` with seeded weights, closed-form
  * output weights `β = (HᵀH + λI)⁻¹Hᵀy` ([[Elm.trainDistributed]]; λ is
  * a whisker of ridge for rank-deficient H, and for full-rank H the
  * solve is the reference's `pinv(H)·y` up to λ). The upstream pickled
  * models are missing (`.MISSING_LARGE_BLOBS`), so exact weight parity
  * is impossible; we train our own with a FIXED seed so predictions are
  * deterministic and test-stable.
  *
  * Binary labels {0,1} are mapped to {-1,+1} for the solve (sklearn's
  * LabelBinarizer(-1, 1) behavior); predict thresholds at 0.
  */
final case class ElmModel(
    w: Array[Array[Double]], // nHidden × nFeatures
    b: Array[Double],        // nHidden
    beta: Array[Double]) {   // nHidden

  def decision(x: Array[Double]): Double = {
    var s = 0.0
    var h = 0
    while (h < w.length) {
      var z = b(h)
      val wh = w(h)
      var j = 0
      while (j < wh.length) { z += wh(j) * x(j); j += 1 }
      s += beta(h) * Elm.sigmoid(z)
      h += 1
    }
    s
  }

  /** Predicted class label in {0,1}. */
  def predict(x: Array[Double]): Double = if (decision(x) >= 0.0) 1.0 else 0.0
}

object Elm {

  /** RDD.reduce with a clear contract error on an empty training set:
    * the Gram paths would otherwise surface Spark's cryptic "empty
    * collection" UnsupportedOperationException. */
  private[tfidf] def gramReduce[T](rdd: org.apache.spark.rdd.RDD[T])(f: (T, T) => T): T =
    try rdd.reduce(f)
    catch {
      case e: UnsupportedOperationException =>
        throw new IllegalArgumentException(
          "distributed ELM training: empty training set", e)
    }

  def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Seeded random hidden layer (uniform in [-1, 1], the
    * sklearn_extensions SimpleRandomLayer shape) — ELM and every LC-ELM
    * member draw their layer here. */
  def hiddenLayer(d: Int, nHidden: Int, seed: Long): (Array[Array[Double]], Array[Double]) = {
    val rnd = new java.util.Random(seed)
    val w = Array.fill(nHidden, d)(rnd.nextDouble() * 2 - 1)
    val b = Array.fill(nHidden)(rnd.nextDouble() * 2 - 1)
    (w, b)
  }

  private[tfidf] def hRow(w: Array[Array[Double]], b: Array[Double],
      x: Array[Double], out: Array[Double]): Unit = {
    var j = 0
    while (j < w.length) {
      var z = b(j); val wj = w(j); var k = 0
      while (k < wj.length) { z += wj(k) * x(k); k += 1 }
      out(j) = sigmoid(z); j += 1
    }
  }

  /** DISTRIBUTED closed-form train: β = (HᵀH + λI)⁻¹·Hᵀy from ONE pass
    * of partition-local Gram sums — the h×h Gram is tiny at any n, so
    * the rows never leave the executors (the scalable replacement for
    * collecting X and running pinv(H) on the driver; λ is a whisker of
    * ridge for rank-deficient H, equal to pinv's least-squares solution
    * otherwise). `rows` = (feature vector, 0/1 label). */
  def trainDistributed(rows: org.apache.spark.sql.Dataset[(Array[Double], Double)],
      nFeatures: Int, nHidden: Int = 20, seed: Long = 42L,
      ridge: Double = 1e-8): ElmModel = {
    val (w, b) = hiddenLayer(nFeatures, nHidden, seed)
    val bc = rows.sparkSession.sparkContext.broadcast((w, b))
    val (gram, gy) = Elm.gramReduce(rows.rdd.mapPartitions { it =>
      val (w, b) = bc.value
      val h = w.length
      val g = new Array[Double](h * h)
      val v = new Array[Double](h)
      val hx = new Array[Double](h)
      var any = false
      it.foreach { case (x, y01) =>
        any = true
        hRow(w, b, x, hx)
        val ypm = if (y01 > 0.5) 1.0 else -1.0
        var a = 0
        while (a < h) {
          val ha = hx(a)
          v(a) += ha * ypm
          var c = 0
          while (c < h) { g(a * h + c) += ha * hx(c); c += 1 }
          a += 1
        }
      }
      if (any) Iterator.single((g, v)) else Iterator.empty
    }) { (l, r) =>
      var i = 0; while (i < l._1.length) { l._1(i) += r._1(i); i += 1 }
      i = 0; while (i < l._2.length) { l._2(i) += r._2(i); i += 1 }
      l
    }
    val G = new DenseMatrix(nHidden, nHidden, gram) // symmetric → layout-safe
    var i = 0; while (i < nHidden) { G(i, i) += ridge; i += 1 }
    val beta = G \ DenseVector(gy)
    ElmModel(w, b, beta.toArray)
  }
}

/** LC-ELM: the reference's 25-member ELM ensemble with a linear
  * combiner (`train/lc-elm.py:20-103`):
  *
  *  - members: `n` ELMClassifiers fit on X with ±1-binarized labels
  *    (`lc-elm.py:56-60`); member output F(X)ᵢⱼ ∈ {-1, +1}
  *    (`_f`, `lc-elm.py:65-75`);
  *  - combiner: `v = (FᵀF + λI)⁻¹Fᵀy` (the reference's `pinv(F)·y`
  *    as a ridge Gram solve) where y is the RAW 0/1 class index
  *    vector — not the ±1 binarized one (`lc-elm.py:61-63`; preserved
  *    verbatim, including the consequence that `predict` =
  *    `sign(F·v)` thresholds 0/1-regressed values at 0, so rows fitted
  *    near 0 flip on numerical noise — a reference quirk, kept);
  *  - predict: `binarizer.inverse_transform(sign(F·v))` → {0, 1}
  *    (`lc-elm.py:101-103`); sign(0) → class 0.
  *
  * Seeding: member i uses `seed + 1000·i`. The reference passes the
  * SAME `random_state` to every member (`lc-elm.py:41-45`), which with
  * a fixed int seed makes all 25 members identical (rank-1 F); that
  * degenerate ensemble is not reproduced.
  */
final case class LcElmModel(members: Vector[ElmModel], v: Array[Double]) {

  /** Member vote vector F(x) ∈ {-1, +1}ⁿ. */
  def f(x: Array[Double]): Array[Double] =
    members.iterator.map(m => if (m.decision(x) >= 0.0) 1.0 else -1.0).toArray

  def decision(x: Array[Double]): Double = {
    val fx = f(x)
    var s = 0.0
    var i = 0
    while (i < fx.length) { s += fx(i) * v(i); i += 1 }
    s
  }

  /** Class in {0,1}: `sign(F·v)` inverse-binarized (threshold 0). */
  def predict(x: Array[Double]): Double = if (decision(x) > 0.0) 1.0 else 0.0
}

object LcElm {

  /** DISTRIBUTED LC-ELM train: pass 1 trains every member's β via the
    * Gram-sum solve ([[Elm.trainDistributed]] math, all members in ONE
    * pass — per-member Grams are h×h each); pass 2 builds the combiner
    * from FᵀF (m×m) + Fᵀy Gram sums of the members' ±1 votes. No row
    * ever reaches the driver. */
  def trainDistributed(rows: org.apache.spark.sql.Dataset[(Array[Double], Double)],
      nFeatures: Int, nEstimators: Int = 25, nHidden: Int = 20,
      seed: Long = 42L, ridge: Double = 1e-8): LcElmModel = {
    val layers = Array.tabulate(nEstimators)(i =>
      Elm.hiddenLayer(nFeatures, nHidden, seed + 1000L * i))
    val sc = rows.sparkSession.sparkContext
    val layersBc = sc.broadcast(layers)
    val h = nHidden; val m = nEstimators
    // two passes scan `rows` (member Grams, then combiner Grams over
    // the members' votes) — persist so pass 2 does not re-execute the
    // caller's full featurization lineage. Only a persist made here is
    // released (a caller's own cache stays), and it is released even
    // when a pass throws
    val ownCache = rows.storageLevel == StorageLevel.NONE
    if (ownCache) rows.persist(StorageLevel.MEMORY_AND_DISK)
    val (members, ftf, fty) = try {
      // pass 1: every member's (HᵀH, Hᵀy±) in one scan
      val grams = Elm.gramReduce(rows.rdd.mapPartitions { it =>
        val ls = layersBc.value
        val g = Array.fill(m)(new Array[Double](h * h))
        val v = Array.fill(m)(new Array[Double](h))
        val hx = new Array[Double](h)
        var any = false
        it.foreach { case (x, y01) =>
          any = true
          val ypm = if (y01 > 0.5) 1.0 else -1.0
          var mi = 0
          while (mi < m) {
            Elm.hRow(ls(mi)._1, ls(mi)._2, x, hx)
            val gm = g(mi); val vm = v(mi)
            var a = 0
            while (a < h) {
              val ha = hx(a)
              vm(a) += ha * ypm
              var c = 0
              while (c < h) { gm(a * h + c) += ha * hx(c); c += 1 }
              a += 1
            }
            mi += 1
          }
        }
        if (any) Iterator.single((g, v)) else Iterator.empty
      }) { (l, r) =>
        for (mi <- 0 until m) {
          var i = 0; while (i < h * h) { l._1(mi)(i) += r._1(mi)(i); i += 1 }
          i = 0; while (i < h) { l._2(mi)(i) += r._2(mi)(i); i += 1 }
        }
        l
      }
      val members = Vector.tabulate(m) { mi =>
        val G = new DenseMatrix(h, h, grams._1(mi))
        var i = 0; while (i < h) { G(i, i) += ridge; i += 1 }
        ElmModel(layers(mi)._1, layers(mi)._2, (G \ DenseVector(grams._2(mi))).toArray)
      }
      val membersBc = sc.broadcast(members)
      // pass 2: combiner Gram over the vote matrix F (raw 0/1 targets —
      // lc-elm.py:61-63, quirk preserved)
      val (ftf, fty) = Elm.gramReduce(rows.rdd.mapPartitions { it =>
        val ms = membersBc.value
        val g = new Array[Double](m * m)
        val v = new Array[Double](m)
        val fx = new Array[Double](m)
        var any = false
        it.foreach { case (x, y01) =>
          any = true
          var mi = 0
          while (mi < m) { fx(mi) = if (ms(mi).decision(x) >= 0.0) 1.0 else -1.0; mi += 1 }
          var a = 0
          while (a < m) {
            val fa = fx(a)
            v(a) += fa * y01
            var c = 0
            while (c < m) { g(a * m + c) += fa * fx(c); c += 1 }
            a += 1
          }
        }
        if (any) Iterator.single((g, v)) else Iterator.empty
      }) { (l, r) =>
        var i = 0; while (i < m * m) { l._1(i) += r._1(i); i += 1 }
        i = 0; while (i < m) { l._2(i) += r._2(i); i += 1 }
        l
      }
      (members, ftf, fty)
    } finally if (ownCache) rows.unpersist(blocking = false)
    val Gf = new DenseMatrix(m, m, ftf)
    var i = 0; while (i < m) { Gf(i, i) += ridge; i += 1 }
    LcElmModel(members, (Gf \ DenseVector(fty)).toArray)
  }
}
