package graft.operators

import graft.{SparkSpec, Tables}

/** Contract specs for the top-singular-direction operator (#27e). The
  * gate pins the VALUE engine-exactly; these pin that the value means
  * what it claims: a near-unit vector close to the true top eigenpair
  * of the Gram matrix.
  */
class PowerIterationSpec extends SparkSpec {

  import spark.implicits._

  test("40 rounds land near the true top eigenpair of XtX") {
    val embs = Tables.embeddings(spark, sfDir)
    val out = Knn.topSingularVector(embs, "embedding", dim = 64, iters = 40)
      .as[(Long, Double, Double)].collect().sortBy(_._1)
    val v = out.map(_._2)
    val lambda = out.head._3
    // unit norm (up to the 6-dp per-coordinate rounding)
    val norm = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"norm $norm")
    // reference eigenpair: plain-double power iteration on the exact
    // same Gram, 500 rounds, no rounding — driver-side ground truth
    val X = embs.select("embedding").as[Array[Float]].collect()
      .map(_.map(_.toDouble))
    val dim = 64
    val G = Array.ofDim[Double](dim, dim)
    X.foreach { row =>
      var i = 0
      while (i < dim) { var j = 0; while (j < dim) {
        G(i)(j) += row(i) * row(j); j += 1 }; i += 1 }
    }
    var ref = Array.fill(dim)(1.0)
    var lamRef = 0.0
    (0 until 500).foreach { _ =>
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => G(i)(j) * ref(j)).sum)
      lamRef = math.sqrt(w.map(x => x * x).sum)
      ref = w.map(_ / lamRef)
    }
    val dot = math.abs(v.zip(ref).map { case (a, b) => a * b }.sum) / norm
    assert(dot > 0.97, s"cosine to true top eigenvector: $dot")
    assert(math.abs(lambda - lamRef) / lamRef < 0.01,
      s"lambda $lambda vs true $lamRef")
  }

  test("a Gram cell past DECIMAL(38,12) fails with a clear error") {
    // 200 × (9.9e11)² ≈ 2e26 overflows the cell's 10^26 capacity: the
    // aggregate emits a null cell (declared containsNull) and the
    // driver iteration names the overflow instead of an NPE
    val embs = Seq.fill(200)(Array(9.9e11, 1.0)).toDF("e")
    val e = intercept[ArithmeticException](
      Knn.topSingularVector(embs, "e", dim = 2, iters = 2))
    assert(e.getMessage.contains("overflows DECIMAL(38,12)"))
  }
}
