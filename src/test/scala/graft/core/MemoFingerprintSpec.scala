package graft.core

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The shared-state memo key contract (round-13): a memo key is
  * (corpus key, params, INPUT-PLAN FINGERPRINT). Reusing a corpus key
  * with a different input relation — or different column choices — must
  * MISS and rebuild, never serve state built on someone else's data;
  * two frames built by identical DataFrame code must still HIT. */
class MemoFingerprintSpec extends SparkSpec {

  test("planFingerprint: equal for identically-built frames, different " +
    "for different relations and different column selections") {
    val a1 = graft.sources.Tables.lineitem(spark, sf)
    val a2 = graft.sources.Tables.lineitem(spark, sf)
    val b = graft.sources.Tables.orders(spark, sf)
    assert(SharedState.planFingerprint(a1) == SharedState.planFingerprint(a2))
    assert(SharedState.planFingerprint(a1) != SharedState.planFingerprint(b))
    assert(SharedState.planFingerprint(a1.select("l_orderkey"))
      != SharedState.planFingerprint(a1.select("l_partkey")))
  }

  test("profile memo: same corpus key over a DIFFERENT relation rebuilds " +
    "for the new relation instead of serving the old profile") {
    import graft.operators.Profile
    val key = "fingerprint-spec-profile"
    try {
      val li = graft.sources.Tables.lineitem(spark, sf)
      val ord = graft.sources.Tables.orders(spark, sf)
      val first = Profile.tableProfile(li, memoKey = Some(key)).collect()
      // same key, different relation: must describe ORDERS, not lineitem
      val second = Profile.tableProfile(ord, memoKey = Some(key))
        .select("col_name").collect().map(_.getString(0)).toSet
      assert(second == ord.columns.toSet)
      assert(first.map(_.getAs[String]("col_name")).toSet == li.columns.toSet)
      // and the ORIGINAL entry still hits: repeating the first call gives
      // the identical frame without clobbering
      val again = Profile.tableProfile(li, memoKey = Some(key)).collect()
      assert(again.map(_.toString).sorted.toSeq ==
        first.map(_.toString).sorted.toSeq)
    } finally graft.core.SharedState.reset(spark, "profile.exact")
  }

  test("CF memo: same corpus key with different basket/item COLUMNS " +
    "builds the model for the requested columns") {
    import graft.operators.Graph
    import spark.implicits._
    val key = "fingerprint-spec-cf"
    try {
      val baskets = Seq(
        (1L, 10L, 100L), (1L, 11L, 200L), (2L, 10L, 100L), (2L, 11L, 200L),
        (3L, 12L, 300L), (3L, 13L, 400L), (4L, 12L, 300L), (4L, 13L, 400L))
        .toDF("basket_id", "item_id", "alt_id")
      val byItem = Graph.itemSimilarity(baskets, "basket_id", "item_id",
        minCo = 2, memoKey = Some(key))
        .select("item_a", "item_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // same key, same frame, DIFFERENT item column: pairs must come from
      // alt_id's co-occurrence structure, not item_id's
      val byAlt = Graph.itemSimilarity(baskets, "basket_id", "alt_id",
        minCo = 2, memoKey = Some(key))
        .select("item_a", "item_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(byItem.contains((10L, 11L)) && byItem.contains((12L, 13L)))
      assert(byAlt.nonEmpty && byAlt.forall { case (a, b) => a >= 100L && b >= 100L },
        s"alt-column model leaked item-column pairs: $byAlt")
    } finally graft.core.SharedState.reset(spark, "cf.co_state")
  }
}
