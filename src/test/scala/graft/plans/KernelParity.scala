package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Shared checks for the kernel parity suites in this package. Each suite
  * keeps the name of the optimizer rule that once swapped an interpreted
  * higher-order-function (HOF) shape for a native expression; the rules are
  * gone and graft's operators build the native expression directly, so the
  * suites now compare each native expression with its INTERPRETED HOF twin
  * — values bit for bit, the null algebra (null arrays, null elements,
  * unequal lengths, empty arrays), -0.0 and NaN, the ANSI failure contract
  * — and check that each lane plans the native node on a fresh session
  * that registered nothing. */
trait KernelParity extends SparkSpec {

  protected def embeddings: DataFrame = graft.sources.Tables.embeddings(spark, sf)

  /** Equality that tells -0.0 from 0.0 and treats NaN as equal to NaN. */
  protected def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null)                 => true
    case (x: Double, y: Double)       =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case _                            => a == b
  }

  /** (tag, native, hof) on both evaluation paths — a local relation
    * (interpreted eval) and behind a repartition barrier (whole-stage
    * codegen) — asserted pairwise equal; returns tag -> native value from
    * the codegen path. */
  protected def parity(df: DataFrame, nat: Column, hof: Column): Map[String, Any] = {
    var last = Map.empty[String, Any]
    for (d <- Seq(df, df.repartition(2))) {
      val rows = d.select(col("tag"), nat.as("nat"), hof.as("hof")).collect()
      rows.foreach { r =>
        assert(same(r.get(1), r.get(2)),
          s"${r.getString(0)}: native=${r.get(1)} hof=${r.get(2)}")
      }
      last = rows.map(r => r.getString(0) -> r.get(1)).toMap
    }
    last
  }

  /** (tag -> (native, hof)) on both evaluation paths; asserts the two paths
    * agree with each other and returns the repartitioned one. */
  protected def both(df: DataFrame, nat: Column, hof: Column,
                     view: Any => Any = identity): Map[String, (Any, Any)] = {
    val runs = Seq(df, df.repartition(2)).map { d =>
      d.select(col("tag"), nat.as("nat"), hof.as("hof")).collect()
        .map(r => r.getString(0) -> (view(r.get(1)), view(r.get(2)))).toMap
    }
    assert(runs(0) == runs(1), s"interpreted ${runs(0)} vs codegen ${runs(1)}")
    runs(1)
  }

  /** The error condition of the first SparkThrowable in a cause chain. */
  protected def condition(t: Throwable): String = {
    var c = t
    while (c != null) {
      c match {
        case s: org.apache.spark.SparkThrowable if s.getCondition != null =>
          return s.getCondition
        case _ =>
      }
      c = c.getCause
    }
    "none"
  }

  protected def withAnsi[T](on: Boolean)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", on.toString)
    try f finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  protected def floatPairs: DataFrame = {
    import spark.implicits._
    Seq(
      ("len_mismatch", Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(1.0f)))),
      ("null_elem", Some(Seq(Some(1.0f), None)), Some(Seq(Some(1.0f), Some(2.0f)))),
      ("null_array", None, Some(Seq(Some(1.0f)))),
      ("neg_zero", Some(Seq(Some(-0.0f), Some(2.0f))), Some(Seq(Some(3.0f), Some(-0.0f)))),
      ("nan", Some(Seq(Some(Float.NaN), Some(1.0f))), Some(Seq(Some(1.0f), Some(1.0f)))),
      ("plain", Some(Seq(Some(2.0f), Some(3.0f))), Some(Seq(Some(4.0f), Some(5.0f)))))
      .toDF("tag", "a", "b")
  }

  /** Plans `lane` on a fresh `newSession()` — no session state shared with
    * the suites that ran before — asserts its optimized plan carries
    * `kernel`, and runs it. */
  protected def assertLaneNative(lane: String, kernel: String): Unit = {
    val df = graft.SparkEntry.queries(lane)(spark.newSession(), sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains(kernel), s"$lane plan shows no $kernel:\n${plan.take(2000)}")
    assert(df.count() > 0)
  }
}
