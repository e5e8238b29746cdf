package graft.operators

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The shared PQ-codebook memo (round-13): one decimal-exact training per
  * (basis, corpus), served to every consumer entry point. Results must be
  * bit-identical to memo-less training — the memo elides work, never
  * changes answers — and a reused corpus key over a DIFFERENT relation
  * must miss (the [[graft.core.SharedState]] fingerprint contract). */
class PqMemoSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("raw + residual entry points: memo-served results are identical to " +
    "fresh training, cold and warm") {
    val key = "pq-memo-spec"
    try {
      val emb = Tables.embeddings(spark, sf)
      val freshCodes = rows(PqIndex.codes(emb))
      val freshAdc = rows(PqIndex.adcTopK(emb))
      val freshRpq = rows(PqIndex.residualCodes(emb))
      val freshIvfpq = rows(PqIndex.ivfpqTopK(emb))
      val freshIvfrpq = rows(PqIndex.ivfrpqTopK(emb))
      // cold pass populates the memo (owner path)...
      assert(rows(PqIndex.codes(emb, memoKey = Some(key))) == freshCodes)
      assert(rows(PqIndex.residualCodes(emb, coarseMemoKey = Some(key)))
        == freshRpq)
      // ...warm passes hit it (consumer paths)
      assert(rows(PqIndex.adcTopK(emb, memoKey = Some(key))) == freshAdc)
      assert(rows(PqIndex.ivfpqTopK(emb, coarseMemoKey = Some(key)))
        == freshIvfpq)
      assert(rows(PqIndex.ivfrpqTopK(emb, coarseMemoKey = Some(key)))
        == freshIvfrpq)
      assert(rows(PqIndex.codes(emb, memoKey = Some(key))) == freshCodes)
    } finally {
      graft.core.SharedState.reset(spark, "pq.raw")
      graft.core.SharedState.reset(spark, "pq.residual")
      graft.core.SharedState.reset(spark, "ivf.coarse")
    }
  }

  test("same corpus key over a different relation misses and retrains for " +
    "the new corpus") {
    val key = "pq-memo-spec-miss"
    try {
      val emb = Tables.embeddings(spark, sf)
      // a genuinely different corpus: shift every component, keep ids
      val shifted = emb.select(col("vec_id"),
        transform(col("embedding"), x => x + lit(0.25f)).as("embedding"))
      val memoFirst = rows(PqIndex.codes(emb, memoKey = Some(key)))
      val memoShifted = rows(PqIndex.codes(shifted, memoKey = Some(key)))
      // must equal FRESH training on the shifted corpus, not the old codes
      assert(memoShifted == rows(PqIndex.codes(shifted)))
      // and the original entry still serves the original corpus
      assert(rows(PqIndex.codes(emb, memoKey = Some(key))) == memoFirst)
    } finally graft.core.SharedState.reset(spark, "pq.raw")
  }

  test("warmCodebooks pre-trains both bases: owner and consumer results " +
    "match memo-less results against a warm memo") {
    val key = "pq-memo-spec-warm"
    try {
      val emb = Tables.embeddings(spark, sf)
      PqIndex.warmCodebooks(emb, key)
      assert(rows(PqIndex.codes(emb, memoKey = Some(key)))
        == rows(PqIndex.codes(emb)))
      assert(rows(PqIndex.ivfrpqTopK(emb, coarseMemoKey = Some(key)))
        == rows(PqIndex.ivfrpqTopK(emb)))
    } finally {
      graft.core.SharedState.reset(spark, "pq.raw")
      graft.core.SharedState.reset(spark, "pq.residual")
      graft.core.SharedState.reset(spark, "ivf.coarse")
    }
  }
}
