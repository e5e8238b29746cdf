package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

class EditDistanceSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)

  test("exact duplicates verify at distance 0; a substituted doc is caught at its token distance") {
    val t = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val syn = Seq(
      (1L, t),
      (2L, t),                                  // exact dup -> dist 0
      (3L, t.replace("quick", "quack")),        // one token substituted -> dist 1
      (4L, "completely different content about spark physical plans and shuffles entirely")
    ).toDF("doc_id", "text")
    val pairs = NearDup.editDistancePairs(syn, hammingMax = 16, maxRatioPct = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5))).toSeq
    assert(pairs.contains((1L, 2L, 0L)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 1L))
    assert(!pairs.exists(p => p._2 == 4L || p._1 == 4L))
  }

  test("the metric is order-sensitive where Jaccard over token sets is blind") {
    // same token multiset, reversed order: set-Jaccard = 1.0, but the
    // signature edit distance sees the reordering
    val a = (1 to 40).map(i => s"tok$i")
    val syn = Seq((1L, a.mkString(" ")), (2L, a.reverse.mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = NearDup.editDistancePairs(syn, hammingMax = 32, maxRatioPct = 100)
      .collect()
    // simhash of a reordering is IDENTICAL (order-free majority vote), so
    // blocking proposes the pair; the verify metric must not call it a dup
    assert(pairs.length == 1)
    // reversal ~ n-1 edits, minus a few 64-symbol alphabet collisions
    assert(pairs.head.getLong(5) >= 30L)
  }

  test("verification only tightens the simhash candidate set") {
    val cand = NearDup.simhashPairs(docs, 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val verified = NearDup.editDistancePairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(verified.subsetOf(cand))
  }

  test("signature length is the token count (one char per token)") {
    val lens = NearDup.editDistancePairs(docs)
      .join(docs.select(col("doc_id").as("a_id"),
        size(split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")),
          " ")).cast("long").as("n_tok")), "a_id")
      .filter(col("len_a") =!= col("n_tok")).count()
    assert(lens == 0L)
  }

  test("shared pair-table memo: warm == fresh for pairs and survivors, reset forgets") {
    val docs = graft.sources.Tables.documents(spark, sf)
    graft.core.SharedState.reset(spark, "neardup.edit_pairs")
    val fresh = NearDup.editDistancePairs(docs)
      .orderBy("a_id", "b_id").collect().toSeq
    val freshSurv = Dedup.clusterSurvivors(docs.select("doc_id"),
        NearDup.editDistancePairs(docs).select("a_id", "b_id"))
      .orderBy("doc_id").collect().toSeq
    NearDup.warmEditDistancePairs(docs, key = "spec-ed")
    assert(NearDup.editDistancePairs(docs, memoKey = Some("spec-ed"))
      .orderBy("a_id", "b_id").collect().toSeq == fresh)
    assert(Dedup.clusterSurvivors(docs.select("doc_id"),
        NearDup.editDistancePairs(docs, memoKey = Some("spec-ed"))
          .select("a_id", "b_id"))
      .orderBy("doc_id").collect().toSeq == freshSurv)
    assert(fresh.nonEmpty && freshSurv.nonEmpty)
    graft.core.SharedState.reset(spark, "neardup.edit_pairs")
  }

  test("pair exchange carries no document text (ids+fingerprints only)") {
    val p = NearDup.editDistancePairs(docs).queryExecution.executedPlan.toString
    // the self-join's exchanges are on the blocked fingerprint frame; the
    // signature columns appear only in the post-candidate broadcast rejoin
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val exchangeLines = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchangeLines.forall(l => !l.contains("sig") && !l.contains("norm")),
      exchangeLines.mkString("\n"))
  }
}
