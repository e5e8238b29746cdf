package graft.plans

import org.apache.spark.sql.functions._

import graft.operators.NearDup
import graft.functions.TextHashFunctions.minhash_signature

/** `minhash_signature` against the portable HOF `NearDup.minhashSigHof`:
  * identical signatures on real shingle sets (hex-string min == raw-byte
  * min), null shingles skipped, empty/all-null arrays giving all-null
  * signatures — and the one divergence, a NULL shingle array: NULL from
  * the native expression, `[null × k]` from the HOF. */
class MinHashRewriteSpec extends KernelParity {

  private def docShingles = graft.sources.Tables.documents(spark, sf)
    .select(col("doc_id"), NearDup.shingles(col("text")).as("sh"))

  test("signatures match the portable HOF on real shingle sets") {
    val rows = docShingles.limit(24)
      .select(minhash_signature(col("sh"), NearDup.NumHashes).as("nat"),
        NearDup.minhashSigHof(col("sh")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"signature diverged:\n${r.getSeq[String](0)}\n${r.getSeq[String](1)}")
    }
  }

  test("edge algebra: null array -> [null x k]; empty/all-null -> all-null signature; null shingles skipped") {
    import spark.implicits._
    val df = Seq(
      ("null_array", None),
      ("empty", Some(Seq.empty[Option[String]])),
      ("all_null", Some(Seq[Option[String]](None, None))),
      ("null_skipped", Some(Seq(Some("alpha"), None, Some("beta")))),
      ("clean", Some(Seq(Some("alpha"), Some("beta")))))
      .toDF("tag", "sh")
    val out = both(df, minhash_signature(col("sh"), NearDup.NumHashes),
      NearDup.minhashSigHof(col("sh")))
    val k = NearDup.NumHashes
    out.removed("null_array").foreach { case (tag, (nat, hof)) =>
      assert(nat == hof, s"$tag:\n  native=$nat\n  hof=$hof")
    }
    assert(out("empty")._1 == Seq.fill(k)(null))
    assert(out("all_null")._1 == Seq.fill(k)(null))
    // null shingles are skipped: same signature as without them
    assert(out("null_skipped")._1 == out("clean")._1)
    assert(out("clean")._1.asInstanceOf[scala.collection.Seq[String]].forall(_ != null))
    // NULL in, NULL out — the one input where the HOF differs: its outer
    // transform iterates the seed range even over a NULL shingle array
    assert(out("null_array") == ((null, Seq.fill(k)(null))))
  }
}
