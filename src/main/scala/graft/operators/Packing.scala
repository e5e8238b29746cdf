package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — assign documents to fixed token-budget packs by greedy
  * prefix-sum placement, the batching step training pipelines run after
  * chunking (concatenate samples until the context window is full; samples
  * never split across packs here — a doc whose tokens straddle a budget
  * boundary starts its pack at its first token's index).
  *
  * pack_id = (global running token count BEFORE the doc) div budget: each doc
  * lands in the pack holding its first token. Deterministic given the
  * ordering column, independent of partitioning.
  *
  * Scale shape: the naive formulation is a single global-window cumsum — one
  * task at 100 TB. This one splits the cumsum by a DETERMINISTIC bucket key
  * (id div bucketSize): per-bucket window cumsums run in parallel, the
  * per-bucket totals (corpus/bucketSize rows — tiny) cumsum once and
  * broadcast back as offsets. The key is a value of the row, not a
  * partition id, so every read of it sees the same buckets. No global window anywhere; output is
  * bit-identical to the naive form (same DuckDB oracle).
  */
object Packing {

  def packSequences(docs: DataFrame, budget: Long = 256, bucketSize: Long = 64,
                    text: String = "text", id: String = "doc_id"): DataFrame = {
    val nTokens: Column = size(split(trim(col(text)), "\\s+")).cast("long")
    packCounts(docs.select(col(id), nTokens.as("n_tokens")),
      budget, bucketSize, id)
  }

  /** Same placement over PRE-COMPUTED token counts — the form downstream of
    * a scrub/tokenize stage whose counts differ from whitespace tokens. */
  def packCounts(counts: DataFrame, budget: Long = 256, bucketSize: Long = 64,
                 id: String = "doc_id"): DataFrame = {
    require(budget > 0 && bucketSize > 0, "budget and bucketSize must be positive")
    val base = counts.select(col(id), col("n_tokens"),
      expr(s"cast($id as bigint) div $bucketSize").as("__b"))

    // parallel per-bucket cumsums; bucket totals cumsum over the (tiny)
    // bucket table only, broadcast back — the offsets trick
    val wLocal = Window.partitionBy("__b").orderBy(id)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("__run_local", sum("n_tokens").over(wLocal))

    val wOff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("__b").agg(sum("n_tokens").as("__tot"))
      .withColumn("__offset", coalesce(sum("__tot").over(wOff), lit(0L)))
      .select("__b", "__offset")

    local.join(broadcast(offsets), "__b")
      .withColumn("token_start", col("__offset") + col("__run_local") - col("n_tokens"))
      .withColumn("pack_id", expr(s"token_start div $budget"))
      .select(col(id), col("n_tokens"), col("token_start"), col("pack_id"))
      .orderBy(id)
  }

  /** FIM (fill-in-the-middle) transformation — the code-model pretraining
    * op: a `ratePct`% subset of documents has its token sequence split at
    * two cut points into (prefix, middle, suffix) and re-emitted in PSM
    * order with sentinel markers, teaching the model to infill; the rest
    * pass through untouched. Selection AND cut points are content-addressed
    * (md5 of doc_id) — no RNG, so the same corpus produces the same
    * training stream on any cluster, any partitioning, any engine, and an
    * epoch can be regenerated instead of stored.
    *
    * Cut-point contract: 1 <= c1 < c2 <= n-1 — all three parts non-empty;
    * documents under 4 tokens pass through (no room for three parts).
    *
    * Scale shape: pure narrow per-row maps (tokenize, two hashes, three
    * slices, join) — zero exchange beyond the final presentation sort. */
  def fimTransform(docs: DataFrame, ratePct: Int = 50,
                   text: String = "text", id: String = "doc_id"): DataFrame = {
    val toks = split(trim(regexp_replace(lower(col(text)), "[^a-z0-9]+", " ")), " ")
    def h(off: Int) =
      conv(substring(md5(concat(col(id).cast("string"), lit("_fim"))),
        off, 13), 16, 10).cast("long")
    val base = docs.select(col(id), toks.as("w"))
      .withColumn("n", size(col("w")).cast("long"))
    val eligible = col("n") >= 4 && pmod(h(1), lit(100)) < ratePct
    val c1 = lit(1L) + pmod(h(14), col("n") - 2)          // 1 .. n-2
    val c2 = col("c1") + 1L + pmod(h(27), col("n") - col("c1") - 1) // c1+1 .. n-1
    base
      .withColumn("fim_applied", eligible)
      .withColumn("c1", when(eligible, c1))
      .withColumn("c2", when(eligible, c2))
      .withColumn("fim_text",
        when(col("fim_applied"),
          concat(lit("<PRE> "),
            array_join(slice(col("w"), lit(1), col("c1").cast("int")), " "),
            lit(" <SUF> "),
            array_join(slice(col("w"), (col("c2") + 1).cast("int"),
              (col("n") - col("c2")).cast("int")), " "),
            lit(" <MID> "),
            array_join(slice(col("w"), (col("c1") + 1).cast("int"),
              (col("c2") - col("c1")).cast("int")), " ")))
          .otherwise(array_join(col("w"), " ")))
      .select(col(id), col("n").as("n_tokens"), col("fim_applied"),
        col("c1"), col("c2"), col("fim_text"))
      .orderBy(id)
  }

  /** Length-bucketed batch assignment — the padding-minimizing batcher for
    * UNPACKED training (each sequence its own slot, padded to a fixed
    * per-batch length). Docs go to the smallest power-of-two bucket holding
    * their token count (clamped to [minBucket, maxBucket]; longer docs
    * truncate to maxBucket, reported); each bucket fills batches of
    * `maxTokensPerBatch div bucket` slots in doc-id order. Versus padding
    * everything to the global max, waste is bounded by the bucket ratio
    * (< 2x the ideal) instead of the length distribution's tail.
    *
    * Per-bucket positions use the SAME two-level offsets trick as
    * [[packCounts]] (sub-strata of `subSize` ids rank in parallel windows;
    * the per-(bucket, stratum) counts cumsum on a corpus/subSize-row table
    * and broadcast back) — no global or per-bucket single-task window, and
    * the assignment is bit-identical to the naive `row_number() OVER
    * (PARTITION BY bucket ORDER BY id)` form (spec-asserted; at larger
    * corpora the stratum-count cumsum recurses the same trick).
    *
    * Returns the doc-grain assignment: (id, n_tokens, bucket, batch_idx,
    * real_tokens, padded_tokens, trunc_tokens). */
  def lengthBuckets(docs: DataFrame, maxTokensPerBatch: Long = 4096,
                    minBucket: Int = 16, maxBucket: Int = 1024,
                    subSize: Long = 64, text: String = "text",
                    id: String = "doc_id"): DataFrame = {
    require(Integer.bitCount(minBucket) == 1 && Integer.bitCount(maxBucket) == 1
      && minBucket <= maxBucket && maxTokensPerBatch >= maxBucket,
      "buckets must be powers of two with maxTokensPerBatch >= maxBucket")
    val nTokens: Column = size(split(trim(col(text)), "\\s+")).cast("long")
    val buckets = Iterator.iterate(minBucket.toLong)(_ * 2)
      .takeWhile(_ <= maxBucket).toSeq
    // CASE ladder over the (few) bucket values — pure codegen, no log2 FP
    val bucketCol = buckets.init.reverse
      .foldLeft(lit(buckets.last): Column)((acc, b) =>
        when(col("n_tokens") <= b, lit(b)).otherwise(acc))

    val base = docs.select(col(id), nTokens.as("n_tokens"))
      .withColumn("bucket", bucketCol)
      .withColumn("__s", expr(s"cast($id as bigint) div $subSize"))
    val wLocal = Window.partitionBy("bucket", "__s").orderBy(id)
    val local = base.withColumn("__rk", row_number().over(wLocal).cast("long"))
    val wOff = Window.partitionBy("bucket").orderBy("__s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("bucket", "__s").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(wOff), lit(0L)))
      .select("bucket", "__s", "__off")
    local.join(broadcast(offsets), Seq("bucket", "__s"))
      .withColumn("__pos", col("__off") + col("__rk") - lit(1L))
      .withColumn("batch_idx",
        expr(s"__pos div ($maxTokensPerBatch div bucket)"))
      .withColumn("real_tokens", least(col("n_tokens"), col("bucket")))
      .withColumn("padded_tokens", col("bucket") - col("real_tokens"))
      .withColumn("trunc_tokens", col("n_tokens") - col("real_tokens"))
      .select(col(id), col("n_tokens"), col("bucket"), col("batch_idx"),
        col("real_tokens"), col("padded_tokens"), col("trunc_tokens"))
  }

  /** Token-balanced shard assignment — the output-writer step that decides
    * which of `nShards` training files each doc lands in. Docs are taken in
    * (n_tokens desc, id asc) order and dealt round-robin: the classic
    * longest-processing-time approximation, which bounds the heaviest
    * shard at (4/3 - 1/3n) of optimal and in practice lands within a doc
    * of even. Deterministic: the order is a total order, so the assignment
    * is partitioning- and run-independent.
    *
    * The global rank uses the offsets trick keyed by the SORT key: strata
    * are token-count ranges (`n_tokens div strideTokens`), ranked
    * internally in parallel windows; stratum counts cumsum on a tiny table
    * in stratum-descending order and broadcast back. No global window.
    *
    * Returns per-shard accounting: (shard, n_docs, sum_tokens,
    * share_frac); balance is auditable as max/min of share_frac. */
  def shardByTokens(docs: DataFrame, nShards: Int = 8,
                    strideTokens: Long = 64, text: String = "text",
                    id: String = "doc_id"): DataFrame = {
    require(nShards > 0 && strideTokens > 0)
    val nTokens: Column = size(split(trim(col(text)), "\\s+")).cast("long")
    val base = docs.select(col(id), nTokens.as("n_tokens"))
      .withColumn("__s", expr(s"n_tokens div $strideTokens"))
    val wLocal = Window.partitionBy("__s")
      .orderBy(col("n_tokens").desc, col(id).asc)
    val local = base.withColumn("__rk", row_number().over(wLocal).cast("long"))
    // strata rank in DESCENDING token order — offsets follow the same order
    val wOff = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy("__s").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum("__n").over(wOff), lit(0L)))
      .select("__s", "__off")
    val assigned = local.join(broadcast(offsets), "__s")
      .withColumn("shard",
        pmod(col("__off") + col("__rk") - lit(1L), lit(nShards.toLong)))
    val tot = assigned.agg(sum("n_tokens").as("__tot"))
    assigned.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("share_frac",
        col("sum_tokens").cast("double") / col("__tot").cast("double"))
      .select("shard", "n_docs", "sum_tokens", "share_frac")
      .orderBy("shard")
  }

  /** Per-bucket padding-efficiency report over [[lengthBuckets]]: batch
    * count, token accounting, and the slot fill fraction (real tokens over
    * slot capacity actually allocated). The dashboard row that decides
    * whether the bucket ladder fits the corpus's length distribution. */
  def lengthBucketReport(docs: DataFrame, maxTokensPerBatch: Long = 4096,
                         minBucket: Int = 16, maxBucket: Int = 1024,
                         text: String = "text", id: String = "doc_id"): DataFrame =
    lengthBuckets(docs, maxTokensPerBatch, minBucket, maxBucket,
      text = text, id = id)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        (max("batch_idx") + lit(1L)).as("n_batches"),
        sum("real_tokens").as("real_tokens"),
        sum("padded_tokens").as("padded_tokens"),
        sum("trunc_tokens").as("trunc_tokens"))
      .withColumn("fill_frac", col("real_tokens").cast("double") /
        (col("real_tokens") + col("padded_tokens")).cast("double"))
      .orderBy("bucket")
}
