package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

class RelationalSketchSpec extends SparkSpec {

  test("subqueryBattery: decorrelated joins, ANSI null trap zeroes, join-consistent flags") {
    val df = Relational.subqueryBattery(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // every per-row subquery must have become a JOIN of some flavor —
    // existence joins for IN/EXISTS, anti for NOT IN, outer for the scalars
    assert(plan.contains("ExistenceJoin"), "IN/EXISTS should decorrelate: " + plan.take(300))
    assert(plan.contains("LeftAnti"), "NOT IN null-trap should plan as anti join")
    val rows = df.collect()
    // the NULL-carrying NOT IN list admits no TRUE row (ANSI three-valued
    // logic, filter context): the trap count is zero on every row
    assert(rows.forall(_.getAs[Long]("n_null_trap") == 0L))
    // flags agree with direct join recomputes
    val li = Tables.lineitem(spark, sf)
    val bigs = li.filter(col("l_quantity") > 45)
      .select("l_orderkey").distinct()
      .collect().map(_.getLong(0)).toSet
    rows.take(200).foreach { r =>
      assert(r.getAs[Boolean]("has_big") == bigs.contains(r.getAs[Long]("o_orderkey")))
    }
    // n_items joins back: spot-check one order against a direct count
    val k = rows.head.getAs[Long]("o_orderkey")
    assert(rows.head.getAs[Long]("n_items")
      == li.filter(col("l_orderkey") === k).count())
  }

  test("sketch verdict booleans are all true and exact columns match a recompute") {
    val rows = Relational.approxSketches(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(4), s"${r.getString(0)}: HLL outside 5% of exact")
      assert(r.getBoolean(5), s"${r.getString(0)}: approx median > 1 unit off exact")
    }
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("parts"),
           percentile(col("l_quantity"), lit(0.5)).as("median"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    rows.foreach { r =>
      val (parts, median) = exact(r.getString(0))
      assert(r.getLong(2) == parts, s"${r.getString(0)}: n_parts_exact drifted")
      assert(r.getDouble(3) == median, s"${r.getString(0)}: median_exact drifted")
    }
  }

  test("exactPercentiles: distributed order statistics bit-match percentile()") {
    import spark.implicits._
    // sizes chosen to hit both interpolated and integral ranks: for n=21,
    // p=0.05 gives pos=1.0 exactly (integral); n=20 gives pos=0.95
    // (interpolated); plus duplicates and a single-element frame
    val cases = Seq(
      (1 to 21).map(_.toDouble),
      (1 to 20).map(i => (i * 7 % 13).toDouble),       // duplicates
      Seq(42.0),
      (1 to 997).map(i => math.sin(i) * 1000.0))
    for (vals <- cases; p <- Seq(0.05, 0.5, 0.95)) {
      val df = vals.toDF("v")
      val expected = df.agg(percentile(col("v"), lit(p))).head().getDouble(0)
      val got = Relational.exactPercentiles(df, "v", Seq("q" -> p))
        .head().getDouble(0)
      assert(got == expected, s"n=${vals.size} p=$p: got $got expected $expected")
    }
    // grouped form against per-group percentile()
    val g = (1 to 500).map(i => (s"g${i % 3}", math.cos(i) * 100.0)).toDF("g", "v")
    val exp = g.groupBy("g").agg(percentile(col("v"), lit(0.05)).as("lo"),
      percentile(col("v"), lit(0.95)).as("hi")).orderBy("g").collect()
    val got = Relational.exactPercentilesByGroup(g, "g", "v",
      Seq("lo" -> 0.05, "hi" -> 0.95)).orderBy("g").collect()
    exp.zip(got).foreach { case (e, r) =>
      assert(e.getString(0) == r.getString(0))
      assert(e.getDouble(1) == r.getDouble(1) && e.getDouble(2) == r.getDouble(2),
        s"group ${e.getString(0)}: got $r expected $e")
    }
  }

  test("exactPercentiles over a cached, tie-heavy input bit-matches percentile()") {
    // AQE on and 8 shuffle partitions: the setting in which separately
    // planned count and numbering passes once disagreed over a cached input
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // 200,000 values over 5,003 distinct: each value occurs ~40 times
    val df = spark.range(0L, 200000L, 1L, 8)
      .select((col("id") * 7919L % 5003L).cast("double").as("v"))
      .cache()
    try {
      df.count()
      for (p <- Seq(0.05, 0.5, 0.95)) {
        val expected = df.agg(percentile(col("v"), lit(p))).head().getDouble(0)
        val got = Relational.exactPercentiles(df, "v", Seq("q" -> p))
          .head().getDouble(0)
        assert(got == expected, s"p=$p: got $got expected $expected")
      }
    } finally {
      df.unpersist()
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }
}
