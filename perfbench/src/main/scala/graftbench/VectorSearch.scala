package graftbench

import org.apache.spark.sql.SaveMode

import graft.operators.{IvfIndex, Similarity}
import graft.sources.Tables

/** `IvfIndex.topK` with no memo key over generated clustered vectors: every
  * call trains the coarse quantizer, probes and re-ranks exactly. */
final class VectorSearch extends Workload {
  private var result: Array[org.apache.spark.sql.Row] = Array.empty

  def warmupRounds = 3
  def nominalRoundSeconds = 3.0

  private def emb(ctx: Ctx) = Tables.embeddings(ctx.spark, s"${ctx.inputs}/vectors")

  def ops(ctx: Ctx): Seq[String] = Seq("topk")

  def op(ctx: Ctx, name: String, index: Int): Long = {
    val t = ctx.tracer
    val q = ctx.int("queries")
    val df = t.span("construct") {
      IvfIndex.topK(emb(ctx), nQueries = q, k = ctx.int("k"))
    }
    t.span("plan") { df.queryExecution.executedPlan }
    result = t.span("execute") { df.collect() }
    q.toLong
  }

  def finish(ctx: Ctx): Unit = {
    TextFile.write(s"${ctx.out}/topk.tsv", result.map { r =>
      s"${r.getLong(0)}\t${r.getLong(1)}\t${r.getLong(2)}\t" +
        java.lang.Double.toString(r.getDouble(3)) + "\n"
    }.mkString)
  }

  def layers(ctx: Ctx): Map[String, Double] = {
    import ctx.timed
    val q = ctx.int("queries")
    val k = ctx.int("k")
    val e = emb(ctx)
    val n = e.count()
    val (_, trainSpan, _, _) = timed("operators.ivf_train") {
      IvfIndex.assignments(e).write.format("noop").mode(SaveMode.Overwrite).save()
    }
    IvfIndex.warmCoarse(e, "perfbench")
    val (searchRows, searchSpan, _, _) = timed("operators.ivf_search") {
      val df = IvfIndex.topK(e, nQueries = q, k = k, memoKey = Some("perfbench"))
      val rows = df.collect()
      (rows.length, df)
    }
    IvfIndex.resetCoarseMemo(ctx.spark)
    val (_, cosSpan, _, _) = timed("functions.cosine") {
      Similarity.bruteForceTopK(e, q, k).collect()
    }
    // the text operators, on a corpus run.py generates for traced runs of
    // this workload; the first pass loads and compiles their code
    val textDir = s"${ctx.inputs}/text/corpus"
    Curation.textLayers(ctx, textDir)
    val text = Curation.textLayers(ctx, textDir)
    text ++ Map(
      "operators.ivf_train_s" -> trainSpan.seconds,
      "operators.ivf_search_s" -> searchSpan.seconds,
      "operators.ivf_candidates_per_query" ->
        PlanCounts.distinctPairs(searchRows._2.queryExecution, "q_id", "n_id") / q,
      "functions.cosine_pairs_per_s" -> q.toDouble * (n - 1) / cosSpan.seconds)
  }
}
