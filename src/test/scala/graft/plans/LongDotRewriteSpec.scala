package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.long_dot_product

/** `long_dot_product` against the interpreted long HOF fold: exact long
  * arithmetic, zip_with's null algebra, and the overflow CONTRACT — ANSI
  * throws ARITHMETIC_OVERFLOW, LEGACY wraps — each reproduced under the
  * mode in force when the column is built. */
class LongDotRewriteSpec extends KernelParity {

  private def longDotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  private def codes(c: Column) =
    transform(c, x => floor(x.cast("double") * 100.0).cast("long"))

  test("values match the HOF fold exactly on fixture-derived codes") {
    val rows = embeddings.limit(32)
      .select(codes(col("embedding")).as("q"))
      .select(long_dot_product(col("q"), col("q")).as("nat"),
        longDotHof(col("q"), col("q")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native ${r.getLong(0)} != hof ${r.getLong(1)}"))
  }

  test("null algebra: unequal lengths, null element, null array, empty") {
    import spark.implicits._
    val df = Seq(
      ("len_mismatch", Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(1L)))),
      ("null_elem", Some(Seq(Some(1L), None)), Some(Seq(Some(1L), Some(2L)))),
      ("null_array", None, Some(Seq(Some(1L)))),
      ("empty", Some(Seq.empty[Option[Long]]), Some(Seq.empty[Option[Long]])),
      ("plain", Some(Seq(Some(2L), Some(3L))), Some(Seq(Some(4L), Some(5L)))))
      .toDF("tag", "a", "b")
    val out = parity(df,
      long_dot_product(col("a"), col("b")), longDotHof(col("a"), col("b")))
    assert(out("plain") == 23L)
    assert(out("empty") == 0L)
    assert(out("len_mismatch") == null)
    assert(out("null_elem") == null)
    assert(out("null_array") == null)
  }

  test("ANSI overflow: rewritten form throws the same ARITHMETIC_OVERFLOW as the HOF") {
    import spark.implicits._
    withAnsi(on = true) {
      val big = Seq((Seq(Long.MaxValue, 1L), Seq(2L, 1L))).toDF("a", "b")
        .repartition(1)
      val natErr = intercept[Throwable] {
        big.select(long_dot_product(col("a"), col("b"))).collect()
      }
      val hofErr = intercept[Throwable] {
        big.select(longDotHof(col("a"), col("b"))).collect()
      }
      assert(condition(natErr) == "ARITHMETIC_OVERFLOW", s"native: $natErr")
      assert(condition(hofErr) == "ARITHMETIC_OVERFLOW", s"hof: $hofErr")
    }
  }

  test("ANSI failure path: overflow PAST a null element / under a length mismatch still throws like the HOF") {
    import spark.implicits._
    withAnsi(on = true) {
      // zip_with evaluates every overlap product, so an overflow AFTER a
      // null element throws in the HOF — the native expression scans the
      // full overlap too instead of short-circuiting to null
      val nullThenOverflow =
        Seq((Seq(Option.empty[Long], Some(Long.MaxValue)),
             Seq(Some(1L), Some(Long.MaxValue)))).toDF("a", "b").repartition(1)
      // ...and likewise under a length mismatch: the pad nulls the RESULT
      // but overlap products still evaluate
      val mismatchOverflow =
        Seq((Seq(Long.MaxValue), Seq(Long.MaxValue, 5L))).toDF("a", "b")
          .repartition(1)
      for ((df, tag) <- Seq((nullThenOverflow, "null_then_overflow"),
                            (mismatchOverflow, "mismatch_overflow"))) {
        val natErr = intercept[Throwable] {
          df.select(long_dot_product(col("a"), col("b"))).collect()
        }
        val hofErr = intercept[Throwable] {
          df.select(longDotHof(col("a"), col("b"))).collect()
        }
        assert(condition(natErr) == "ARITHMETIC_OVERFLOW", s"$tag native: $natErr")
        assert(condition(hofErr) == "ARITHMETIC_OVERFLOW", s"$tag hof: $hofErr")
      }
      // and the non-overflowing variants of the same shapes agree on null
      val benign = Seq(
        ("null_then_ok", Seq(Option.empty[Long], Some(2L)), Seq(Some(1L), Some(3L))),
        ("mismatch_ok", Seq(Some(2L)), Seq(Some(3L), Some(4L))))
        .toDF("tag", "a", "b")
      parity(benign, long_dot_product(col("a"), col("b")),
          longDotHof(col("a"), col("b")))
        .foreach { case (tag, v) => assert(v == null, s"$tag: expected null") }
    }
  }

  test("LEGACY overflow: rewritten form wraps exactly like the HOF") {
    import spark.implicits._
    // the overflow mode is read when the column is built, as the HOF's
    // Multiply/Add read it — so both columns are built inside the block
    withAnsi(on = false) {
      val big = Seq((Seq(Long.MaxValue, 3L), Seq(2L, 5L))).toDF("a", "b")
        .repartition(1)
      val r = big.select(long_dot_product(col("a"), col("b")).as("nat"),
        longDotHof(col("a"), col("b")).as("hof")).head()
      // Long.MaxValue*2 wraps to -2; -2+15 = 13
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getLong(0) == Long.MaxValue * 2L + 15L)
    }
  }

  test("the SQ ANN lane gets the native scoring loop end-to-end") {
    assertLaneNative("q_sim_topk_sq", "long_dot_product")
  }
}
