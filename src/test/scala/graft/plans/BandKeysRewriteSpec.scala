package graft.plans

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.operators.NearDup
import graft.functions.TextHashFunctions.{band_keys, minhash_signature}

/** `band_keys` against the per-band md5(concat_ws('|', slice(...)))
  * transform: byte-identical keys, including concat_ws's null-element skip,
  * slice truncation, and the null-array → md5("") table. */
class BandKeysRewriteSpec extends KernelParity {

  private def docShingles = graft.sources.Tables.documents(spark, sf)
    .select(col("doc_id"), NearDup.shingles(col("text")).as("sh"))

  private def bandsHof(sig: Column, bands: Int, r: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        md5(concat_ws("|", slice(sig, b * r + 1, lit(r)))).as("key")))

  /** A band table as comparable (band, key) pairs; null stays null. */
  private def bandPairs(v: Any): Any = v match {
    case null                          => null
    case rows: scala.collection.Seq[_] =>
      rows.map { case r: Row => (r.getInt(0), r.getString(1)) }
  }

  private val md5Empty = java.security.MessageDigest.getInstance("MD5")
    .digest(Array.empty[Byte]).map("%02x".format(_)).mkString

  test("band/key values byte-identical to the slice+concat_ws+md5 transform") {
    val rows = docShingles.limit(64)
      .select(minhash_signature(col("sh"), 16).as("sig"))
      .select(band_keys(col("sig"), 4, 4).as("nat"),
        bandsHof(col("sig"), 4, 4).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(bandPairs(r.get(0)) == bandPairs(r.get(1)),
        s"band tables differ: ${r.get(0)} vs ${r.get(1)}")
    }
  }

  test("corners: null array, null elements (concat_ws skip), short array (slice truncation)") {
    import spark.implicits._
    val df = Seq(
      ("null_array", None),
      ("null_elems", Some(Seq(Option("a"), None, Option("c"), None,
        Option("e"), Option("f"), None, None))),
      ("short", Some(Seq(Option("a"), Option("b"), Option("c")))),
      ("plain", Some((1 to 8).map(i => Option(s"h$i")))))
      .toDF("tag", "sig")
    val out = both(df, band_keys(col("sig"), 2, 4), bandsHof(col("sig"), 2, 4),
      bandPairs)
    out.foreach { case (tag, (nat, hof)) =>
      assert(nat == hof, s"$tag: native=$nat hof=$hof")
    }
    // null array: every band keys md5("") — concat_ws never returns null
    assert(out("null_array")._1 == Seq((0, md5Empty), (1, md5Empty)))
    // short array: band 1 sees nothing past index 3 -> md5("")
    assert(out("short")._1.asInstanceOf[scala.collection.Seq[(Int, String)]](1) == ((1, md5Empty)))
  }

  test("the real minhashPairs lane carries band_keys in its plan") {
    val fresh = spark.newSession()
    val docs = graft.sources.Tables.documents(fresh, sf).limit(200)
    val out = NearDup.minhashPairs(docs)
    assert(out.queryExecution.optimizedPlan.toString.contains("band_keys"),
      "bandFrame should call band_keys in the live lane")
    assertLaneNative("q_dedup_minhash", "band_keys")
  }
}
