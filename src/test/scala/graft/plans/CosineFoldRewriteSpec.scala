package graft.plans

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.functions.VectorFunctions.cosine_fold

/** `cosine_fold` against the three-fold composition `Similarity.cosineHof`:
  * bit-identical per accumulator, the composition's null algebra, and Spark
  * Divide's zero-norm contract (NULL under LEGACY, DIVIDE_BY_ZERO under
  * ANSI — not CosineSimilarity's IEEE NaN). */
class CosineFoldRewriteSpec extends KernelParity {

  test("fused result is bit-identical to the three-fold composition") {
    val a = embeddings.select(col("vec_id"), col("embedding").as("a"))
    val b = embeddings.select((col("vec_id") + 1).as("vec_id"), col("embedding").as("b"))
    val rows = a.join(b, "vec_id").limit(32)
      .select(cosine_fold(col("a"), col("b")).as("nat"),
        Similarity.cosineHof(col("a"), col("b")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(same(r.getDouble(0), r.getDouble(1)),
      s"bits differ: ${r.getDouble(0)} vs ${r.getDouble(1)}"))
  }

  test("null algebra: unequal lengths, null element, null array match the composition") {
    val out = parity(floatPairs,
      cosine_fold(col("a"), col("b")), Similarity.cosineHof(col("a"), col("b")))
    assert(out("len_mismatch") == null)
    assert(out("null_elem") == null)
    assert(out("null_array") == null)
    assert(out("nan").asInstanceOf[Double].isNaN)
  }

  test("ANSI zero-norm: fused form throws the same DIVIDE_BY_ZERO as the composition") {
    import spark.implicits._
    withAnsi(on = true) {
      val zeroNorm = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
      val empty = Seq((Seq.empty[Float], Seq.empty[Float])).toDF("a", "b")
      for (df <- Seq(zeroNorm, empty).map(_.repartition(1))) {
        val natErr = intercept[Throwable] {
          df.select(cosine_fold(col("a"), col("b"))).collect()
        }
        val hofErr = intercept[Throwable] {
          df.select(Similarity.cosineHof(col("a"), col("b"))).collect()
        }
        assert(condition(natErr) == "DIVIDE_BY_ZERO", s"native: $natErr")
        assert(condition(hofErr) == "DIVIDE_BY_ZERO", s"composition: $hofErr")
      }
    }
  }

  test("LEGACY zero-norm: fused form yields NULL like the composition (not NaN)") {
    import spark.implicits._
    withAnsi(on = false) {
      val df = Seq(
        ("zero_norm", Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),
        ("empty", Seq.empty[Float], Seq.empty[Float])).toDF("tag", "a", "b")
      val out = parity(df,
        cosine_fold(col("a"), col("b")), Similarity.cosineHof(col("a"), col("b")))
      assert(out("zero_norm") == null, "zero norm must be NULL under LEGACY, not NaN")
      assert(out("empty") == null)
    }
  }

  test("the centroid-filter lane gets the fused cosine end-to-end") {
    assertLaneNative("q_centroid_filter", "cosine_fold")
  }
}
