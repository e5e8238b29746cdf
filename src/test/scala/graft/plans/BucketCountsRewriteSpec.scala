package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.NearDup
import graft.functions.TextHashFunctions.bucket_counts

/** `bucket_counts` against the per-bucket `size(filter(…))` rescan the
  * PPJoin+ suffix filter used to run: exact values (Murmur3 at seed 42,
  * pmod bucketing, null elements counting into the seed's bucket) and the
  * null-array → [null × n] corner. */
class BucketCountsRewriteSpec extends KernelParity {

  private def docShingles = graft.sources.Tables.documents(spark, sf)
    .select(col("doc_id"), NearDup.shingles(col("text")).as("sh"))

  /** Bucket of t is pmod(hash(t), n); hash() seeds Murmur3 with 42. */
  private def bucketsHof(sh: Column, n: Int): Column =
    transform(sequence(lit(0), lit(n - 1)),
      k => size(filter(sh, t => pmod(hash(t), lit(n)) === k)))

  test("values identical to the per-bucket rescan on real shingle arrays") {
    val rows = docShingles.limit(64)
      .select(bucket_counts(col("sh"), 16, 42).as("nat"),
        bucketsHof(col("sh"), 16).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Integer](0) == r.getSeq[Integer](1),
        s"histograms differ: ${r.getSeq[Integer](0)} vs ${r.getSeq[Integer](1)}")
    }
  }

  test("corners: null array -> [null x n]; null element counts at pmod(seed, n); empty -> zeros") {
    import spark.implicits._
    val df = Seq(
      ("null_array", None),
      ("null_elem", Some(Seq(Option("alpha"), None))),
      ("empty", Some(Seq.empty[Option[String]])),
      ("plain", Some(Seq(Option("alpha"), Option("beta"), Option("alpha")))))
      .toDF("tag", "sh")
    val out = both(df, bucket_counts(col("sh"), 4, 42), bucketsHof(col("sh"), 4))
    out.foreach { case (tag, (nat, hof)) =>
      assert(nat == hof, s"$tag: native=$nat hof=$hof")
    }
    def total(tag: String) = out(tag)._1.asInstanceOf[scala.collection.Seq[Integer]].map(_.toInt).sum
    assert(out("null_array")._1 == Seq(null, null, null, null))
    assert(total("empty") == 0)
    // a NULL element hashes to the seed and counts, as in the HOF
    assert(total("null_elem") == 2)
    assert(total("plain") == 3)
  }

  test("the real jaccardJoin lane carries bucket_counts in its plan") {
    val fresh = spark.newSession()
    val docs = graft.sources.Tables.documents(fresh, sf).limit(200)
    val out = NearDup.jaccardJoin(docs, threshold = 0.5)
    assert(out.queryExecution.optimizedPlan.toString.contains("bucket_counts"),
      "prefixCandidates' suffix filter should call bucket_counts in the live lane")
    assertLaneNative("q_dedup_jaccard", "bucket_counts")
  }
}
