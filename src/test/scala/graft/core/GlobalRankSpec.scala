package graft.core

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.{JobTrace, SparkSpec}

class GlobalRankSpec extends SparkSpec {

  /** Runs `body` with AQE on and 4 shuffle partitions, then restores the
    * shared session's settings. */
  private def withAqe[T](body: => T): T = {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val saved = keys.map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** (rank, v) pairs of `withRank` over column `v`, by rank. */
  private def ranked(df: DataFrame, parts: Int): Seq[(Long, Long)] =
    GlobalRank.withRank(df, Seq(col("v").asc), "rank", parts)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("v")))
      .toSeq.sortBy(_._1)

  test("ranks are 1..n and the values at them match a driver-side sort") {
    import spark.implicits._
    val rnd = new Random(7)
    val inputs = Seq(
      "tie-heavy" -> List.fill(600)(rnd.nextLong(25L)),
      "distinct" -> rnd.shuffle((1L to 300L).toList),
      "single" -> List(42L),
      "empty" -> List.empty[Long])
    withAqe {
      for ((name, values) <- inputs; cached <- Seq(false, true)) {
        val base = values.toDF("v").repartition(3)
        val df = if (cached) base.cache() else base
        try {
          Seq(1, 3, 7).foreach { parts =>
            val got = ranked(df, parts)
            val what = s"$name, cached=$cached, $parts partitions"
            assert(got.map(_._1) == (1L to values.length.toLong), what)
            assert(got.map(_._2) == values.sorted, what)
          }
        } finally if (cached) df.unpersist()
      }
    }
  }

  test("the rank is a non-null long appended to the input's columns") {
    import spark.implicits._
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("v", "s")
    val out = GlobalRank.withRank(df, Seq(col("v").desc), "rank")
    assert(out.columns.toSeq == Seq("v", "s", "rank"))
    val f = out.schema("rank")
    assert(f.dataType == LongType && !f.nullable)
    assert(out.orderBy("rank").collect().map(r => (r.getString(1), r.getLong(2)))
      .toSeq == Seq(("c", 1L), ("b", 2L), ("a", 3L)))
  }

  test("one withRank call writes exactly one shuffle, built and read") {
    val df = spark.range(0L, 20000L, 1L, 4)
      .select((col("id") * 7919L % 503L).as("v"))
    withAqe {
      val (rows, trace) = JobTrace.of(spark) {
        GlobalRank.withRank(df, Seq(col("v").asc), "rank").collect()
      }
      assert(rows.length == 20000)
      assert(trace.shuffleWriteStages == 1,
        s"${trace.shuffleWriteStages} shuffle-writing stages")
    }
  }
}
