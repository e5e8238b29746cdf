package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.sum_squares

/** `sum_squares` against the interpreted widen-first single-array fold:
  * bit-identical values and the fold's null algebra (null element poisons,
  * empty array folds to +0.0, null array nulls), -0.0 and NaN. */
class SumSquaresRewriteSpec extends KernelParity {

  private def sumSquaresHof(v: Column): Column =
    aggregate(v, lit(0.0), (a, x) => a + x.cast("double") * x.cast("double"))

  test("values bit-identical to the sequential widen-first fold") {
    val rows = embeddings.limit(16)
      .select(sum_squares(col("embedding")).as("nat"),
        sumSquaresHof(col("embedding")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(same(r.getDouble(0), r.getDouble(1)),
      s"bits differ: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
  }

  test("null algebra: null element poisons, empty folds to +0.0, null array nulls") {
    import spark.implicits._
    val df = Seq(
      ("null_elem", Some(Seq(Some(1.0f), None))),
      ("empty", Some(Seq.empty[Option[Float]])),
      ("null_array", None),
      ("neg_zero", Some(Seq(Some(-0.0f)))),
      ("nan", Some(Seq(Some(1.0f), Some(Float.NaN)))),
      ("plain", Some(Seq(Some(3.0f), Some(4.0f)))))
      .toDF("tag", "v")
    val out = parity(df, sum_squares(col("v")), sumSquaresHof(col("v")))
    assert(out("plain") == 25.0)
    assert(same(out("empty"), 0.0))
    assert(same(out("neg_zero"), 0.0))
    assert(out("nan").asInstanceOf[Double].isNaN)
    assert(out("null_elem") == null)
    assert(out("null_array") == null)
  }

  test("lanes built on the l2Norm/Parseval shape get the native expression end-to-end") {
    for (lane <- Seq("q_vec_quantize", "q_pca_project", "q_vec_norm_audit"))
      assertLaneNative(lane, "sum_squares")
  }
}
