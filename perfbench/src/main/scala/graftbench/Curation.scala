package graftbench

import org.apache.spark.sql.functions.col

import graft.Graft
import graft.operators.{CurationPipeline, Dedup, NearDup, TextAnalysis}
import graft.sources.Tables

/** `Graft.curate` over a generated corpus: quality and language gates,
  * exact dedup, MinHash near-dup removal. The kernel memo is reset before
  * every call, so each operation builds the kernel itself. */
final class Curation extends Workload {
  private var kept: Array[Long] = Array.empty

  def warmupRounds = 3
  def nominalRoundSeconds = 1.7

  private def dir(ctx: Ctx) = s"${ctx.inputs}/corpus"

  def ops(ctx: Ctx): Seq[String] = Seq("curate")

  def op(ctx: Ctx, name: String, index: Int): Long = {
    val spark = ctx.spark
    val t = ctx.tracer
    CurationPipeline.resetKernelMemo(spark)
    val df = t.span("construct") { Graft.curate(spark, dir(ctx)) }
    t.span("plan") { df.queryExecution.executedPlan }
    kept = t.span("execute") { df.collect().map(_.getLong(0)) }
    ctx.long("docs")
  }

  def finish(ctx: Ctx): Unit = {
    CurationPipeline.resetKernelMemo(ctx.spark)
    TextFile.write(s"${ctx.out}/curation_kept.txt", kept.mkString("", "\n", "\n"))
    TextFile.write(s"${ctx.out}/oracle_sql.json",
      Json.render(Map("q_curation" -> graft.SparkEntry.oracleSql("q_curation"))))
  }

  def layers(ctx: Ctx): Map[String, Double] = Curation.textLayers(ctx, dir(ctx))
}

object Curation {

  /** The curation kernel's stages one at a time over the corpus in `dir`,
    * each over the cached output of the one before (the same composition as
    * CurationPipeline's kernel). */
  def textLayers(ctx: Ctx, dir: String): Map[String, Double] = {
    import ctx.timed
    val docs = Tables.documents(ctx.spark, dir)
    val (gated, qlSpan, _, _) = timed("operators.quality_lang") {
      val quality = TextAnalysis.qualityScore(docs)
        .select(col("doc_id"), col("len"), col("stop_ratio"))
      val lang = TextAnalysis.langId(docs).select("doc_id", "pred_lang")
      val g = docs.join(quality, "doc_id").join(lang, "doc_id")
        .filter(col("len").between(CurationPipeline.MinLen, CurationPipeline.MaxLen) &&
          col("stop_ratio") >= CurationPipeline.MinStopRatio &&
          col("pred_lang") === col("lang"))
        .select("doc_id", "text").cache()
      g.count()
      g
    }
    val (survivors, exSpan, _, _) = timed("operators.exact_dedup") {
      val s = Dedup.exactText(gated).select(col("survivor_id").as("doc_id"))
        .join(gated, "doc_id").cache()
      s.count()
      s
    }
    val (pairs, ndSpan, _, _) = timed("operators.near_dup") {
      NearDup.minhashPairs(survivors, 0.5).count()
    }
    survivors.unpersist(true)
    gated.unpersist(true)
    Map(
      "operators.quality_lang_s" -> qlSpan.seconds,
      "operators.exact_dedup_s" -> exSpan.seconds,
      "operators.near_dup_s" -> ndSpan.seconds,
      "operators.near_dup_pairs" -> pairs.toDouble)
  }
}
