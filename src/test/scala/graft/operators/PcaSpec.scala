package graft.operators

import graft.SparkSpec

/** PCA semantics without an SQL oracle: Jacobi correctness on a known
  * matrix, planted low-rank recovery, orthonormality, projected-variance
  * ordering, and partition invariance (the rows-only lane's contract). */
class PcaSpec extends SparkSpec {

  test("parsevalAudit with a precomputed covariance is identical to the self-computed form") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    graft.core.SharedState.reset(spark, "vector.cov")
    val shared = Pca.parsevalAudit(emb, "embedding",
      cov = Some(graft.SparkEntry.embeddingCov(spark, sf))).collect().toSeq
    val direct = Pca.parsevalAudit(emb, "embedding").collect().toSeq
    assert(shared.nonEmpty && shared == direct)
    // and the memoized covariance frame itself matches the direct operator
    assert(graft.SparkEntry.embeddingCov(spark, sf).collect().toSeq ==
      VectorOps.covarianceMatrix(emb, "embedding").collect().toSeq)
    graft.core.SharedState.reset(spark, "vector.cov")
  }

  test("jacobi: known 2x2 eigensystem") {
    // [[2,1],[1,2]] -> eigenvalues 3, 1; vectors (1,1)/sqrt2, (1,-1)/sqrt2
    val (evs, vecs) = Pca.jacobiEigSym(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(evs(0) - 3.0) < 1e-12 && math.abs(evs(1) - 1.0) < 1e-12)
    val s = 1.0 / math.sqrt(2.0)
    assert(math.abs(vecs(0)(0) - s) < 1e-12 && math.abs(vecs(0)(1) - s) < 1e-12)
    // sign canonicalization: largest-|component| positive
    assert(vecs(1)(0) > 0.0)
    assert(math.abs(math.abs(vecs(1)(1)) - s) < 1e-12)
  }

  test("jacobi: diagonal matrix is its own eigensystem, sorted desc") {
    val (evs, vecs) = Pca.jacobiEigSym(Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 5.0, 0.0), Array(0.0, 0.0, 3.0)))
    assert(evs.toSeq == Seq(5.0, 3.0, 1.0))
    assert(vecs(0).toSeq == Seq(0.0, 1.0, 0.0))
    assert(vecs(1).toSeq == Seq(0.0, 0.0, 1.0))
    assert(vecs(2).toSeq == Seq(1.0, 0.0, 0.0))
  }

  test("planted rank-1 data in 4 dims: pc0 captures ~all variance") {
    import spark.implicits._
    // x_t = t * direction, direction = (2,1,0,-1)/sqrt(6)
    val dir = Seq(2.0, 1.0, 0.0, -1.0)
    val rows = (1 to 40).map { t =>
      (t.toLong, dir.map(d => (d * t / 4.0).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val (evs, vecs) = Pca.fitComponents(df, "embedding")
    assert(evs(0) > 0.0)
    // all remaining eigenvalues are grid-noise-sized relative to ev0
    assert(evs.drop(1).forall(e => math.abs(e) < 1e-6 * evs(0)), evs.toSeq)
    // leading component is parallel to the planted direction
    val n = math.sqrt(dir.map(d => d * d).sum)
    val cos = vecs(0).zip(dir).map { case (a, b) => a * b / n }.sum
    assert(math.abs(math.abs(cos) - 1.0) < 1e-6, cos)
  }

  test("components are orthonormal") {
    val df = graft.sources.Tables.embeddings(spark, sf)
    val (_, vecs) = Pca.fitComponents(df, "embedding")
    for (a <- 0 until 4; b <- a until 4) {
      val dot = vecs(a).zip(vecs(b)).map { case (x, y) => x * y }.sum
      val want = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"<v$a, v$b> = $dot")
    }
  }

  test("projected variance is the eigenvalue and ordered desc") {
    val df = graft.sources.Tables.embeddings(spark, sf)
    val (evs, _) = Pca.fitComponents(df, "embedding")
    val proj = Pca.project(df, "embedding", 3, Seq("vec_id")).collect()
    def popVar(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    val vars = (0 until 3).map(c =>
      popVar(proj.map(_.getAs[Double](s"pc$c"))))
    // grid quantization (2^-20 per feature) costs ~1e-6 relative
    (0 until 3).foreach { c =>
      assert(math.abs(vars(c) - evs(c)) < 1e-4 * math.max(evs(c), 1e-9),
        s"pc$c var ${vars(c)} vs ev ${evs(c)}")
    }
    assert(vars(0) >= vars(1) && vars(1) >= vars(2))
  }

  test("partition invariance: same model and projection at any layout") {
    val df = graft.sources.Tables.embeddings(spark, sf)
    val a = Pca.project(df, "embedding", 2, Seq("vec_id"))
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Double]("pc0"), r.getAs[Double]("pc1"))).sortBy(_._1)
    val b = Pca.project(df.repartition(7), "embedding", 2, Seq("vec_id"))
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Double]("pc0"), r.getAs[Double]("pc1"))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("variance report: cumulative share reaches 1 at full rank") {
    val df = graft.sources.Tables.embeddings(spark, sf)
    val rep = Pca.varianceReport(df, "embedding", 64).collect()
    assert(rep.length == 64)
    assert(math.abs(rep.last.getAs[Double]("cum_share") - 1.0) < 1e-9)
    val shares = rep.map(_.getAs[Double]("cum_share"))
    shares.sliding(2).foreach { case Array(x, y) => assert(x <= y); case _ => }
  }
}
