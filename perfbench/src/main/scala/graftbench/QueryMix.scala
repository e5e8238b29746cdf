package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** A seed-ordered list of oracle-checked `SparkEntry.queries` lanes over
  * generated fixtures. One operation is one lane: construct the DataFrame,
  * force its physical plan, then execute it. The execution is a `collect`,
  * which runs on the plan already built, so planning is not paid twice; the
  * rows of the last round are what the checker compares with the oracle. */
final class QueryMix extends Workload {
  private val results = mutable.Map.empty[String, (Array[Row], StructType)]

  def warmupRounds = 1
  def nominalRoundSeconds = 7.0

  private def dir(ctx: Ctx) = s"${ctx.inputs}/fixtures"

  def ops(ctx: Ctx): Seq[String] = {
    val src = scala.io.Source.fromFile(s"${ctx.inputs}/lanes.txt", "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toList finally src.close()
  }

  def op(ctx: Ctx, name: String, index: Int): Long = {
    val t = ctx.tracer
    val fn = SparkEntry.queries(name)
    val df = t.span("construct") { fn(ctx.spark, dir(ctx)) }
    t.span("plan") { df.queryExecution.executedPlan }
    val rows = t.span("execute") { df.collect() }
    results(name) = (rows, df.schema)
    1L
  }

  def finish(ctx: Ctx): Unit = {
    val oracles = SparkEntry.oracleSql
    results.foreach { case (name, (rows, schema)) =>
      ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"${ctx.out}/mix/$name")
    }
    TextFile.write(s"${ctx.out}/oracle_sql.json", Json.render(
      results.keys.toSeq.sorted.map(n => n -> oracles.getOrElse(n, "")).toMap))
  }

  /** The lanes' layers are the engine's: construction, planning and
    * execution, measured on the traced operations themselves. */
  def layers(ctx: Ctx): Map[String, Double] = Map.empty
}
