package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Principal-component projection of an embedding corpus — the whitening /
  * dimensionality-reduction step between [[VectorOps.covarianceMatrix]]
  * and an ANN build (project to the top-k variance directions, index the
  * small vectors).
  *
  * Scale contract (the PQ/IVF codebook shape): the MODEL is the d×d
  * covariance — d²/2 rows collected to the driver (kilobytes, independent
  * of corpus size), eigendecomposed there by cyclic Jacobi, and pinned
  * back into the plan as literals; the projection itself is a NARROW map
  * over the scan — zero shuffle beyond the covariance pass's d²/2-row
  * exchange.
  *
  * Determinism: the covariance input is exact-integer evidence (see
  * [[VectorOps.covarianceMatrix]]); Jacobi runs a FIXED cyclic sweep order
  * for a FIXED sweep count (no data-dependent pivoting, no convergence
  * branch), so the eigenbasis is a pure function of the matrix; each
  * eigenvector's sign is canonicalized (largest-|component| positive,
  * first index on ties) and ties in the eigenvalue sort break by sweep
  * index. Projections fold per-component in ascending dim order
  * (`aggregate` over `zip_with` — sequential, engine-stable).
  *
  * No DuckDB oracle: eigendecomposition has no SQL form — the lane is
  * rows-only checked; semantics are pinned by `PcaSpec` (orthonormality,
  * variance ordering, planted-low-rank recovery, partition invariance). */
object Pca {

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix. Returns
    * (eigenvalues, eigenvectors as rows) sorted by eigenvalue descending,
    * sign-canonicalized. Fixed sweep count — deterministic. */
  private[operators] def jacobiEigSym(
      m: Array[Array[Double]], sweeps: Int = 16)
  : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to sweeps; p <- 0 until d - 1; q <- p + 1 until d) {
      val apq = a(p)(q)
      if (apq != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
        val t = math.signum(theta) match {
          case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        }
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (i <- 0 until d) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
        }
      }
    }
    // eigenvector k is column k of v; canonicalize sign, sort by value desc
    val pairs = (0 until d).map { k =>
      val vec = Array.tabulate(d)(i => v(i)(k))
      val lead = vec.indices.maxBy(i => (math.abs(vec(i)), -i))
      val signed = if (vec(lead) < 0.0) vec.map(x => -x) else vec
      (a(k)(k), k, signed)
    }.sortBy { case (ev, k, _) => (-ev, k) }
    (pairs.map(_._1).toArray, pairs.map(_._3).toArray)
  }

  /** Eigendecompose the corpus covariance (driver-side, model-sized).
    * `cov` lets a caller hand in an ALREADY-MATERIALIZED covariance frame
    * (same (i, j, cov_pop) grain) so a process serving both the covariance
    * lane and a PCA lane computes the d2/2 moment aggregate once. */
  private[operators] def fitComponents(df: DataFrame, vecCol: String,
      cov: Option[DataFrame] = None)
  : (Array[Double], Array[Array[Double]]) = {
    val rows = cov.getOrElse(VectorOps.covarianceMatrix(df, vecCol))
      .select("i", "j", "cov_pop").collect()
    val d = rows.map(_.getAs[Long]("j")).max.toInt + 1
    val m = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j) = (r.getAs[Long]("i").toInt, r.getAs[Long]("j").toInt)
      val c = r.getAs[Double]("cov_pop")
      m(i)(j) = c; m(j)(i) = c
    }
    jacobiEigSym(m)
  }

  /** Project every vector onto the top-k principal components. Output:
    * the carried columns + `pc0..pc{k-1}` doubles. */
  def project(df: DataFrame, vecCol: String, k: Int,
              carry: Seq[String]): DataFrame = {
    val (_, comps) = fitComponents(df, vecCol)
    require(k <= comps.length, s"k=$k exceeds dimensionality ${comps.length}")
    // codegen'd mat-vec (same ascending-index fold as the HOF form —
    // bit-identical, but one fused loop instead of k·d interpreted lambdas)
    val proj = graft.functions.VectorFunctions.mat_vec(
      col(vecCol), typedlit(comps.take(k).map(_.toSeq).toSeq))
    val pcCols = (0 until k).map(c => element_at(proj, c + 1).as(s"pc$c"))
    df.select(carry.map(col) ++ pcCols: _*)
  }

  /** PARSEVAL audit of the fitted eigenbasis — the verdict-boolean oracle
    * form (the compress-signal pattern: the eigenbasis itself has no SQL
    * reproduction, so the lane emits what SQL CAN derive — the per-vector
    * raw ‖x‖² by the [[VectorOps.l2Norm]] sequential fold — plus a boolean
    * the basis must earn): projecting onto ALL d components preserves the
    * squared norm iff the basis is orthonormal, so `ok_parseval` flips on
    * any Jacobi defect, per vector, on real data. */
  def parsevalAudit(df: DataFrame, vecCol: String,
                    relTol: Double = 1e-9,
                    cov: Option[DataFrame] = None): DataFrame = {
    val (_, comps) = fitComponents(df, vecCol, cov)
    val d = comps.length
    val v = col(vecCol)
    val sqRaw = graft.functions.VectorFunctions.sum_squares(v)
    // codegen'd d x d mat-vec, then a d-element fold over the projections —
    // same fold trees as the all-HOF form, no interpreted lambdas
    val proj = graft.functions.VectorFunctions.mat_vec(
      v, typedlit(comps.map(_.toSeq).toSeq))
    val projSq = graft.functions.VectorFunctions.sum_squares(proj)
    df.select(col("vec_id"), col("label"),
        sqRaw.as("sq_raw"), lit(d.toLong).as("n_comps"),
        (abs(projSq - sqRaw) <= lit(relTol) * sqRaw + lit(1e-12))
          .as("ok_parseval"))
      .orderBy("vec_id")
  }

  /** Eigenvalue report (variance per component + cumulative share) —
    * driver model pinned back as a tiny DataFrame for inspection. */
  def varianceReport(df: DataFrame, vecCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (evs, _) = fitComponents(df, vecCol)
    val total = evs.sum
    evs.take(k).zipWithIndex
      .map { case (ev, i) => (i.toLong, ev, evs.take(i + 1).sum / total) }
      .toSeq.toDF("component", "variance", "cum_share")
  }
}
