package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantics for the round-7i audit lanes: table profiling (null/distinct
  * counters, min/max routing by type), the classifier PR sweep, and the
  * Kish effective-sample-size report. */
class ProfileEssPrSpec extends SparkSpec {

  test("tableProfile: counters and type-routed min/max") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("b"), Some(2.5)), (2L, None, Some(-1.0)),
      (3L, Some("a"), None), (4L, Some("a"), Some(2.5)))
      .toDF("id", "name", "v")
    val got = Profile.tableProfile(df).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val id = got("id")
    assert(id.getAs[Long]("n_rows") == 4L && id.getAs[Long]("n_null") == 0L)
    assert(id.getAs[Long]("n_distinct") == 4L)
    assert(id.getAs[String]("min_str") == "1" && id.getAs[String]("max_str") == "4")
    assert(id.isNullAt(id.fieldIndex("min_num")))
    val nm = got("name")
    assert(nm.getAs[Long]("n_null") == 1L && nm.getAs[Long]("n_distinct") == 2L)
    assert(nm.getAs[String]("min_str") == "a" && nm.getAs[String]("max_str") == "b")
    val v = got("v")
    assert(v.getAs[Long]("n_null") == 1L && v.getAs[Long]("n_distinct") == 2L)
    assert(v.getAs[Double]("min_num") == -1.0 && v.getAs[Double]("max_num") == 2.5)
    assert(v.isNullAt(v.fieldIndex("min_str")))
  }

  test("tableProfile: -0.0 groups with 0.0 and all NaNs group together " +
    "(native count(DISTINCT) grouping semantics)") {
    import spark.implicits._
    val df = Seq(0.0, -0.0, Double.NaN, Double.NaN, 1.5).toDF("x")
    val got = Profile.tableProfile(df).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    // native distinct: {0.0(-0.0 folds in), NaN, 1.5} = 3
    assert(got("x").getAs[Long]("n_distinct") == 3L)
  }

  test("tableProfile plan: hash aggregates only (the naive multi-distinct " +
    "form degrades to SortAggregate over a 12-field key), broadcast stitch") {
    val d = Profile.tableProfile(graft.sources.Tables.lineitem(spark, sf))
    val p = d.queryExecution.executedPlan.toString
    // the multi-distinct rewrite's signature is an Expand feeding a KEYED
    // sort aggregate over every profiled column at once; the two-pass form
    // must not contain it (grouping-free SortAggregate from string min/max
    // buffers is fine — it sorts nothing)
    assert(!p.contains("Expand"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("shared exact-profile memo: warm == fresh for both lanes, reset forgets") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    graft.core.SharedState.reset(spark, "profile.exact")
    val fresh = Profile.tableProfile(li).collect().toSeq
    val freshApprox = Profile.tableProfileApprox(li).collect().toSeq
    Profile.warmProfile(li, key = "spec-profile")
    // the memo holds the checkpointed exact profile; both consumers must
    // match their fresh builds row for row (the approx lane's ground-truth
    // columns come straight from the memoized frame)
    assert(Profile.tableProfile(li, memoKey = Some("spec-profile"))
      .collect().toSeq == fresh)
    assert(Profile.tableProfileApprox(li, memoKey = Some("spec-profile"))
      .collect().toSeq == freshApprox)
    // a second memoized call is a hit — the same checkpointed frame object
    assert(Profile.tableProfile(li, memoKey = Some("spec-profile")) eq
      Profile.tableProfile(li, memoKey = Some("spec-profile")))
    graft.core.SharedState.reset(spark, "profile.exact")
  }

  test("prCurve: two clean bins — exact precision/recall/F1 ladder") {
    import spark.implicits._
    val rows = Seq.fill(50)((-80000L, false)) ++ Seq.fill(50)((80000L, true))
    val got = Classifier.prCurve(rows.toDF("score", "truth"), "score", "truth")
      .collect()
    assert(got.length == 2)
    val hi = got.last
    assert(hi.getAs[Long]("n_pred_pos") == 50L && hi.getAs[Long]("tp") == 50L)
    assert(hi.getAs[Double]("precision") == 1.0 && hi.getAs[Double]("recall") == 1.0)
    assert(hi.getAs[Double]("f1") == 1.0)
    val lo = got.head
    assert(lo.getAs[Long]("n_pred_pos") == 100L && lo.getAs[Long]("tp") == 50L)
    assert(lo.getAs[Double]("precision") == 0.5 && lo.getAs[Double]("recall") == 1.0)
    assert(lo.getAs[Double]("f1") == 2.0 * 50 / (2 * 50 + 50))
  }

  test("prCurve: recall never increases with the threshold; all-false truth") {
    import spark.implicits._
    val rows = Seq.tabulate(200)(i => ((i % 40) * 4000L - 80000L,
      i * 2654435761L % 89 < 30))
    val got = Classifier.prCurve(rows.toDF("score", "truth"), "score", "truth")
      .collect()
    got.map(_.getAs[Double]("recall")).sliding(2).foreach {
      case Array(a, b) => assert(a >= b); case _ =>
    }
    val noPos = Classifier.prCurve(
      Seq.fill(10)((1000L, false)).toDF("score", "truth"), "score", "truth")
      .collect()
    noPos.foreach(r => assert(r.isNullAt(r.fieldIndex("recall"))))
  }

  test("samplingEss: hand strata — ESS 50 of 60 sampled, deff 1.2") {
    import spark.implicits._
    // pop A:100 B:50 ; sample A:50 B:10
    // denom = 100^2/50 + 50^2/10 = 450 ; ESS = 150^2/450 = 50 ; deff = 60/50
    val pop = ((1 to 100).map(i => (i.toLong, "A")) ++
      (1 to 50).map(i => (1000L + i, "B"))).toDF("id", "g")
    val smp = ((1 to 50).map(i => (i.toLong, "A")) ++
      (1 to 10).map(i => (1000L + i, "B"))).toDF("id", "g")
    val r = Sampling.samplingEss(pop, smp, "g").collect().head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n_pop") == 150L)
    assert(r.getAs[Long]("n_sample") == 60L)
    assert(r.getAs[Double]("ess") == 50.0)
    assert(r.getAs[Double]("deff") == 1.2)
  }

  test("samplingEss: proportional sampling has ESS == n and deff == 1") {
    import spark.implicits._
    val pop = ((1 to 100).map(i => (i.toLong, "A")) ++
      (1 to 50).map(i => (1000L + i, "B"))).toDF("id", "g")
    val smp = ((1 to 10).map(i => (i.toLong, "A")) ++
      (1 to 5).map(i => (1000L + i, "B"))).toDF("id", "g")
    val r = Sampling.samplingEss(pop, smp, "g").collect().head
    assert(r.getAs[Double]("ess") == 15.0)
    assert(r.getAs[Double]("deff") == 1.0)
  }

  test("samplingEss: an unrepresented stratum nulls ESS and is counted") {
    import spark.implicits._
    val pop = ((1 to 20).map(i => (i.toLong, "A")) ++
      (1 to 20).map(i => (100L + i, "B"))).toDF("id", "g")
    val smp = (1 to 5).map(i => (i.toLong, "A")).toDF("id", "g")
    val r = Sampling.samplingEss(pop, smp, "g").collect().head
    assert(r.getAs[Long]("n_uncovered") == 1L)
    assert(r.isNullAt(r.fieldIndex("ess")) && r.isNullAt(r.fieldIndex("deff")))
  }
}
