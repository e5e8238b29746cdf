package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE-style merge training — the first steps of tokenizer induction run
  * distributed over the corpus: repeatedly find the most frequent ADJACENT
  * token pair and fuse it into one unit. Word-level variant (merges start
  * from whitespace tokens, the scheme subword trainers apply inside words);
  * each step is the canonical count -> argmax -> apply loop.
  *
  * Distribution shape per step: pair counting is one map-side-combined
  * aggregate over adjacent-pair rows; the winning pair is a 1-row
  * TakeOrdered driver collect (like the k-means centroid round-trip —
  * O(1) state); the merge application is a pure narrow regexp map. Steps
  * are sequential by nature (step k's counts depend on step k-1's merge) —
  * the driver loop IS the algorithm, corpus scanned once per step.
  *
  * Determinism engineering: sequences travel as delimiter-wrapped strings
  * `(tok)(tok)...` — regex replacement of `\(a\)\(b\)` -> `(a b)` gives
  * EXACTLY BPE's leftmost non-overlapping merge semantics in both Java
  * regex and RE2 (adjacent matches share no characters, unlike
  * space-separated encodings where the shared boundary space breaks runs).
  * Ties in pair counts break by (left, right) text order. Tokens are
  * [a-z0-9 ]* by construction, so interpolating them into the pattern needs
  * no escaping.
  */
object BpeTrainer {

  /** `(tok)(tok)...` wrapped form of the normalized token sequence. */
  private def wrappedSeq(text: Column): Column = {
    val w = split(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")), " ")
    concat_ws("", transform(w, t => concat(lit("("), t, lit(")"))))
  }

  /** The first `steps` merge rules learned from the corpus:
    * (step, merge_left, merge_right, n_pairs) — n_pairs is the pair's
    * corpus frequency at selection time.
    *
    * With `checkpointDir` set, per-step materialization uses RELIABLE
    * filesystem checkpoints (the [[Dedup.dedupClusters]] discipline): a
    * trainer loop runs arbitrarily many steps, and `localCheckpoint` blocks
    * living on executors make an executor loss mid-loop unrecoverable on a
    * real cluster. Checkpoints land in a unique per-run subdirectory and
    * the context's previous checkpoint dir is restored before returning. */
  def merges(docs: DataFrame, steps: Int = 4,
             text: String = "text", id: String = "doc_id",
             checkpointDir: Option[String] = None): DataFrame =
    withScopedCheckpointDir(docs, checkpointDir) { reliable =>
      val spark = docs.sparkSession
      import spark.implicits._
      mergesLoop(docs, steps, text, id, reliable)._1
        .toDF("step", "merge_left", "merge_right", "n_pairs")
        .orderBy("step")
    }

  /** Per-doc tokenization UNDER the learned merges — the apply half of the
    * trainer: the loop's final sequence state IS the corpus tokenized by
    * the first `steps` rules, so token counts (the budgeting input packing
    * and mixture sampling consume) fall out of one group-count map. Output:
    * (doc_id, n_tokens_base, n_tokens_bpe) — base is the whitespace token
    * count before any merge. */
  def tokenized(docs: DataFrame, steps: Int = 4,
                text: String = "text", id: String = "doc_id",
                checkpointDir: Option[String] = None): DataFrame =
    withScopedCheckpointDir(docs, checkpointDir) { reliable =>
      val finalSeqs = mergesLoop(docs, steps, text, id, reliable)._2
      val nBase = size(split(
        trim(regexp_replace(lower(col(text)), "[^a-z0-9]+", " ")), " "))
      docs.select(col(id), nBase.cast("long").as("n_tokens_base"))
        .join(finalSeqs.select(col(id),
          size(regexp_extract_all(col("seq"), lit("\\(([^()]*)\\)"), lit(1)))
            .cast("long").as("n_tokens_bpe")), id)
        .orderBy(id)
    }

  /** Scoped reliable-checkpoint dir (see [[merges]]'s Scaladoc): unique
    * per-run subdirectory while `body` runs, previous dir restored after —
    * `setCheckpointDir(null)` resets a previously-unset context to unset. */
  private def withScopedCheckpointDir[T](docs: DataFrame,
      checkpointDir: Option[String])(body: Boolean => T): T = {
    val sc = docs.sparkSession.sparkContext
    val prevDir = sc.getCheckpointDir
    checkpointDir.foreach { base =>
      sc.setCheckpointDir(s"$base/graft-bpe-${java.util.UUID.randomUUID}")
    }
    try body(checkpointDir.isDefined)
    finally if (checkpointDir.isDefined) sc.setCheckpointDir(prevDir.orNull)
  }

  // ---- shared train state (SharedState "bpe.train") ----
  // `merges` and `tokenized` both run the SAME sequential loop; a process
  // that serves both (the bench suite, a pipeline materializing the merge
  // table next to the tokenized corpus) would pay the k corpus scans twice
  // for identical state. Share the loop output per (key, steps). At real
  // scale this is "tokenizer state written once, read by both consumers".
  // keyed on the column names too: `mergesShared`/`tokenizedShared` accept
  // text/id column parameters, so a second caller with the same key but
  // different columns must NOT be served state trained on the wrong
  // columns.
  // ... and on the docs frame's plan fingerprint: the column names
  // identify WHICH columns, the fingerprint identifies WHICH corpus — a
  // reused key over a different input relation misses and retrains.
  private def trainedState(docs: DataFrame, key: String, steps: Int,
      text: String, id: String): (Seq[(Long, String, String, Long)], DataFrame) =
    graft.core.SharedState.getOrBuild(docs.sparkSession, "bpe.train",
        (key, steps, text, id, graft.core.SharedState.planFingerprint(docs))) {
      val (learned, seqs) = mergesLoop(docs, steps, text, id, reliable = false)
      // the loop's final frame is already a (lazy) local checkpoint: forcing
      // it here is the eager checkpoint, taken while the loop's earlier,
      // unpinned checkpoints still exist
      seqs.count()
      (learned, seqs)
    }

  /** [[merges]] reading the shared train state (see above). */
  def mergesShared(docs: DataFrame, key: String, steps: Int = 4,
                   text: String = "text", id: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainedState(docs, key, steps, text, id)._1
      .toDF("step", "merge_left", "merge_right", "n_pairs")
      .orderBy("step")
  }

  /** [[tokenized]] reading the shared train state (see above). */
  def tokenizedShared(docs: DataFrame, key: String, steps: Int = 4,
                      text: String = "text", id: String = "doc_id"): DataFrame = {
    val finalSeqs = trainedState(docs, key, steps, text, id)._2
    val nBase = size(split(
      trim(regexp_replace(lower(col(text)), "[^a-z0-9]+", " ")), " "))
    docs.select(col(id), nBase.cast("long").as("n_tokens_base"))
      .join(finalSeqs.select(col(id),
        size(regexp_extract_all(col("seq"), lit("\\(([^()]*)\\)"), lit(1)))
          .cast("long").as("n_tokens_bpe")), id)
      .orderBy(id)
  }

  private def mergesLoop(docs: DataFrame, steps: Int, text: String, id: String,
      reliable: Boolean): (Seq[(Long, String, String, Long)], DataFrame) = {
    require(steps > 0, "steps must be positive")
    // each step rewrites seq; the checkpoint keeps per-step work linear
    // instead of re-running every prior regex on every action (lazy form:
    // the step's own count/collect materializes it)
    def save(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(false) else df.localCheckpoint(false)
    var seqs = save(graft.core.Parallelism.forCompute(docs)
      .select(col(id), wrappedSeq(col(text)).as("seq")))
    val learned = Seq.newBuilder[(Long, String, String, Long)]
    (1 to steps).foreach { step =>
      val toks = seqs.select(
        regexp_extract_all(col("seq"), lit("\\(([^()]*)\\)"), lit(1)).as("t"))
      // adjacent pairs as zip(t[1..n-1], t[2..n]) — slice yields an empty
      // array for 1-token docs (sequence(1, 0) would DESCEND to [1, 0] and
      // index out of bounds)
      val pairs = toks
        .select(explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .select(col("p.l").as("l"), col("p.r").as("r"))
      val top = pairs.groupBy("l", "r").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((step.toLong, l, r, c))
        val pattern = "\\(" + l + "\\)\\(" + r + "\\)"
        seqs = save(seqs.withColumn("seq",
          regexp_replace(col("seq"), pattern, s"($l $r)")))
      }
    }
    (learned.result(), seqs)
  }
}
