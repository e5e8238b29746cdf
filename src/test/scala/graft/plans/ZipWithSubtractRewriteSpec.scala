package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.zip_subtract

/** `zip_subtract` against the interpreted `zip_with(a, b, _ − _)` over
  * double-cast operands: zip_with's exact padding/null algebra (unequal
  * lengths PAD with null — no truncation, no poisoning), widen-first
  * floats, -0.0 and NaN. */
class ZipWithSubtractRewriteSpec extends KernelParity {

  private def zipSubtractHof(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x.cast("double") - y.cast("double"))

  test("padding/null algebra matches zip_with exactly (interpreted + codegen)") {
    import spark.implicits._
    val df = Seq(
      ("pad_left", Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(10.0)))),
      ("pad_right", Some(Seq(Some(1.0))), Some(Seq(Some(10.0), Some(20.0)))),
      ("null_elem", Some(Seq(Some(1.0), None)), Some(Seq(Some(10.0), Some(20.0)))),
      ("null_array", None, Some(Seq(Some(1.0)))),
      ("empty", Some(Seq.empty[Option[Double]]), Some(Seq.empty[Option[Double]])),
      ("neg_zero", Some(Seq(Some(-0.0))), Some(Seq(Some(0.0)))),
      ("nan", Some(Seq(Some(Double.NaN))), Some(Seq(Some(1.0)))),
      ("plain", Some(Seq(Some(5.0), Some(7.0))), Some(Seq(Some(1.0), Some(2.0)))))
      .toDF("tag", "a", "b")
    val out = parity(df, zip_subtract(col("a"), col("b")),
      zipSubtractHof(col("a"), col("b")))
    // the padding contract specifically: max-length output, null tail
    assert(out("pad_left") == Seq(-9.0, null))
    assert(out("pad_right") == Seq(-9.0, null))
    assert(out("null_elem") == Seq(-9.0, null))
    assert(out("null_array") == null)
    assert(out("empty") == Seq.empty)
    assert(same(out("neg_zero"), Seq(-0.0)))
    assert(out("plain") == Seq(4.0, 5.0))
  }

  test("float inputs widen to double BEFORE subtracting, bit-identical to the HOF") {
    import spark.implicits._
    val df = Seq(("f", Array(1.0000001f, 3.0f), Array(0.0000002f, 7.0f)))
      .toDF("tag", "a", "b")
    val out = parity(df, zip_subtract(col("a"), col("b")),
      zipSubtractHof(col("a"), col("b")))
    assert(same(out("f"), Seq(1.0000001f.toDouble - 0.0000002f.toDouble, -4.0)))
  }

  test("RPQ lanes get the native residual end-to-end") {
    for (lane <- Seq("q_vec_rpq", "q_sim_topk_ivfrpq"))
      assertLaneNative(lane, "zip_subtract")
  }
}
