package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF (inverted-file) approximate nearest neighbor — the clustered
  * alternative to the random-hyperplane LSH path in [[Similarity]]:
  *
  *   index build: deterministic seed partition (vec_id % nLists) -> centroid
  *   means -> one Lloyd refinement step -> final inverted lists;
  *   query: rank centroids per query, probe the nProbe nearest lists, exact
  *   cosine top-k over only those lists' members.
  *
  * Scale shape: centroid MEANS aggregate the exploded (list, dim, v)
  * table — a map-side-combined groupBy over nLists x dims groups, the
  * honest training cost — while per-vector DISTANCES never explode-join:
  * the (tiny) nLists x dims centroid matrix is collected and shipped as a
  * literal, and [[graft.functions.SquaredDistances]] computes all nLists
  * distances per vector in one fused kernel. The kernel runs once per
  * VECTOR: Spark evaluates a `select`'s non-generator expressions AFTER
  * the `Generate`, so [[centroidsFrom]] stages the list in a select of its
  * own before exploding the embedding. The driver round-trip per Lloyd
  * iteration (collect centroids -> literal) is the standard distributed
  * k-means shape (centroid state is O(nLists x dims), independent of
  * corpus size).
  *
  * Determinism engineering (oracle-enforced): centroid means use
  * DECIMAL-exact component sums; squared-distance terms follow EXACTLY
  * Spark's `cast(double as decimal(38,18))` + exact decimal sum semantics
  * (see [[graft.functions.SquaredDistances]]), so argmin assignments and
  * probe rankings are identical across engines and partitionings — k-means
  * with double accumulators would NOT be (partial-sum order changes
  * assignments).
  */
object IvfIndex {

  private def exploded(emb: DataFrame, id: String): DataFrame =
    emb.select(col(id), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))

  /** (list, dim, c) centroids with the list computed INLINE — no join
    * against a corpus-sized (vec_id -> list) relation, so the explode feeds
    * the map-side-combined (nLists x d group) aggregate directly. `list` is
    * staged in a select of its own BEFORE the explode: Spark evaluates a
    * select's non-generator expressions in a `Project` after the
    * `Generate`, where the list expression (the SquaredDistances kernel in
    * every Lloyd step) would run once per exploded component, d times per
    * vector, with the whole embedding copied into each row. Staged, it runs
    * once per vector below the `Generate` (PlanSpec pins this shape). Exact
    * decimal addition is order-free, so centroids (and every downstream
    * assignment/probe) are bit-identical to the join form. */
  private[operators] def centroidsFrom(emb: DataFrame, listCol: Column): DataFrame =
    emb.select(listCol.as("list"), col("embedding"))
      .select(col("list"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
      .groupBy("list", "dim")
      .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
            count(lit(1))).as("c"))

  /** Collect the (nLists x dims — tiny, corpus-size-independent) centroid
    * table into a packed matrix literal plus its list-id index. Lists are
    * ordered by id; a list emptied by the Lloyd step simply drops out, which
    * is why positions map back through `listIds` rather than assuming 0..n. */
  private def collectMatrix(cents: DataFrame): (Column, Column) = {
    val byList = cents.select("list", "dim", "c").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
    val listIds = byList.map(_._1)
    val matrix = byList.map(_._2.sortBy(_._2).map(_._3).toSeq)
    (typedLit(matrix), typedLit(listIds))
  }

  /** DECIMAL-exact squared distance of every vector to every centroid:
    * (vec_id, list, dist2) — nLists rows per vector, single scan, no join.
    * Takes the PRE-COLLECTED (matrix, listIds) literal pair so a centroid
    * table consumed by several distance passes is aggregated and collected
    * exactly once (collectMatrix is an eager action; calling it per consumer
    * re-runs the whole upstream Lloyd lineage). */
  private def distances(emb: DataFrame, packed: (Column, Column)): DataFrame = {
    val (matrix, listIds) = packed
    emb.select(col("vec_id"),
        posexplode(VectorFunctions.squared_distances(col("embedding"), matrix))
          .as(Seq("pos", "dist2")))
      .withColumn("list", element_at(listIds, col("pos") + 1))
      .select("vec_id", "list", "dist2")
  }

  /** The pre-round-11 trainer+assignment path (exploded centroid join,
    * windowed argmin), kept as the parity twin: IvfIndexParitySpec pins
    * [[assignments]] identical to this on fixture data. */
  private[graft] def assignmentsLegacy(emb: DataFrame, nLists: Int = 8,
                                       nIters: Int = 1): DataFrame = {
    def centroidsJoin(ve: DataFrame, assign: DataFrame): DataFrame =
      ve.join(assign, "vec_id")
        .groupBy("list", "dim")
        .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
              count(lit(1))).as("c"))
    val ve = exploded(emb, "vec_id")
    val seed = emb.select(col("vec_id"),
      pmod(col("vec_id"), lit(nLists.toLong)).as("list"))
    var cents = collectMatrix(centroidsJoin(ve, seed))
    (1 to nIters).foreach { _ =>
      cents = collectMatrix(centroidsJoin(ve, argmin(distances(emb, cents))))
    }
    argmin(distances(emb, cents))
  }

  private def argmin(d: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("dist2").asc, col("list").asc)
    d.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("vec_id", "list")
  }

  /** Seed partition + `nIters` Lloyd refinements; returns the packed final
    * centroid literals. Each iteration is one distance scan + one centroid
    * aggregation + one O(nLists x dims) driver collect — the standard
    * distributed k-means loop; cost is linear in iterations, corpus scanned
    * once per iteration, centroid state independent of corpus size. */
  private def lloyd(emb: DataFrame, nLists: Int,
                    nIters: Int): (Column, Column) = {
    var cents = collectMatrix(
      centroidsFrom(emb, pmod(col("vec_id"), lit(nLists.toLong))))
    (1 to nIters).foreach { _ =>
      cents = collectMatrix(centroidsFrom(emb, listExpr(cents)))
    }
    cents
  }

  // ---- shared trained coarse quantizer (the BpeTrainer.trainMemo
  // discipline, minus the pinning) ----
  // Eight lanes in the suite train the SAME (nLists=8, nIters=1) coarse
  // quantizer on the SAME embeddings table — IVF/IVF-PQ/IVF-RPQ top-k,
  // cluster histogram, recall report, hard-negative mining, semantic
  // dedup, residual PQ codes. (q_vec_assign_new trains a ninth quantizer
  // but on its HISTORY SUBSET — deliberately outside this memo, see
  // [[assignNewBatch]].) Decimal-exact centroid sums make the result
  // bit-identical across call paths and partitionings, so one trained
  // quantizer serves all consumers. Unlike the BPE/edge/covariance memos
  // the value is MODEL-SIZED DRIVER STATE (nLists x dims literal columns,
  // a few KB) — no checkpoint blocks to pin, nothing for the bench's
  // between-query cleanup to drop. At real scale this is "train the index
  // once, persist the centroid matrix next to it, every reader loads it".
  // Callers opt in with a memoKey naming the input corpus (the bench/
  // Verify pass the sf dir); the default None trains fresh. The key
  // deliberately has NO column-name component: every entry point reads
  // the fixed (vec_id, embedding) schema (the BpeTrainer memo-key lesson
  // — a key narrower than the call's free parameters serves wrong state).
  // ... plus the training frame's plan fingerprint (round-13): a reused
  // corpus key over a different embeddings relation misses and retrains
  // instead of serving a quantizer trained on someone else's vectors.
  // Every call site passes forCompute(emb), so owner and consumers
  // fingerprint the same plan shape.
  private val coarseMemo = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String, Int, Int, Int),
    (Column, Column)]()

  /** [[lloyd]] through the shared-quantizer memo (see above): a memoKey
    * names the training corpus; None bypasses the memo entirely. */
  private def coarse(emb: DataFrame, nLists: Int, nIters: Int,
                     memoKey: Option[String]): (Column, Column) =
    memoKey match {
      case None => lloyd(emb, nLists, nIters)
      case Some(key) =>
        coarseMemo.computeIfAbsent(
          (emb.sparkSession, key, nLists, nIters,
            graft.core.MemoPin.planFingerprint(emb)),
          _ => lloyd(emb, nLists, nIters))
    }

  /** Train the shared quantizer eagerly so later lanes hit a warm memo
    * (the bench warms this untimed at suite start). */
  def warmCoarse(emb: DataFrame, key: String, nLists: Int = 8,
                 nIters: Int = 1): Unit =
    coarse(graft.core.Parallelism.forCompute(emb), nLists, nIters,
      Some(key)): Unit

  /** Drop this session's trained quantizers — the bench calls it before
    * each timed iteration of the OWNER lane (q_vec_clusters) so the
    * training cost lands there and every consumer measures marginal work.
    * Pure driver state: nothing to unpersist. */
  def resetCoarseMemo(spark: org.apache.spark.sql.SparkSession): Unit = {
    val it = coarseMemo.keySet().iterator()
    while (it.hasNext) if (it.next()._1 eq spark) it.remove()
  }

  /** Final inverted-list assignment after seed + `nIters` Lloyd steps.
    * Vectors with a null or empty embedding are DROPPED, matching the
    * legacy exploded-argmin twin (posexplode of a null array emits no
    * rows) — without the filter the fused path would emit a null `list`
    * for them. */
  def assignments(emb: DataFrame, nLists: Int = 8, nIters: Int = 1,
                  memoKey: Option[String] = None): DataFrame = {
    // fused narrow assignment (listExpr): no explode, no window, no
    // shuffle (parity with the exploded-argmin twin is spec-pinned).
    // forCompute matters here: the legacy path's window shuffle used to
    // (incidentally) spread a single-split parquet scan across cores; a
    // fully narrow pipeline of per-row decimal distance kernels must
    // claim that parallelism explicitly or it serializes on one core.
    val e = graft.core.Parallelism.forCompute(emb)
    val cents = coarse(e, nLists, nIters, memoKey)
    e.filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), listExpr(cents).as("list"))
  }

  /** The coarse-quantizer outputs both IVF consumers need: per-query probe
    * lists (`q_id`, `list` — the nProbe nearest) and the full-corpus
    * inverted-list assignment (`vec_id`, `list`). Shared by [[topK]] (exact
    * re-rank) and [[PqIndex.ivfpqTopK]] (ADC re-rank over compressed codes);
    * the centroid matrix is collected ONCE inside lloyd() and both frames
    * consume the same packed literal. */
  private[operators] def probeAndAssign(emb: DataFrame, nQueries: Int,
      nLists: Int, nProbe: Int, nIters: Int,
      memoKey: Option[String] = None): (DataFrame, DataFrame) = {
    val e = graft.core.Parallelism.forCompute(emb)
    val finalCents = coarse(e, nLists, nIters, memoKey)
    // null/empty embeddings DROPPED, same as [[assignments]] — without the
    // filter this path would emit list=null member rows (benign for the
    // probe join but divergent degenerate-input semantics) and an empty
    // array would throw inside the distance kernel
    val finalAssign = e
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), listExpr(finalCents).as("list"))
    (probes(emb, finalCents, nQueries, nProbe), finalAssign)
  }

  /** Train the coarse quantizer and return the packed (matrix, listIds)
    * centroid literals — the input [[PqIndex.ivfpqTopK]] needs to prune
    * lists with a single narrow corpus scan. */
  private[operators] def trainCoarse(emb: DataFrame, nLists: Int,
      nIters: Int, memoKey: Option[String] = None): (Column, Column) =
    coarse(graft.core.Parallelism.forCompute(emb), nLists, nIters, memoKey)

  /** Per-query nProbe nearest lists under pre-trained centroids. The window
    * input is nQueries x nLists rows — driver-bounded, never corpus-sized. */
  private[operators] def probes(emb: DataFrame, finalCents: (Column, Column),
                                nQueries: Int, nProbe: Int): DataFrame = {
    val qd = distances(emb.filter(col("vec_id") < nQueries), finalCents)
    val wProbe = Window.partitionBy("vec_id").orderBy(col("dist2").asc, col("list").asc)
    qd.withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("list"))
  }

  /** Fused narrow coarse-list assignment: all nLists squared distances in one
    * kernel + argmin, no explode/join/window. `array_position` returns the
    * FIRST position of the min and `listIds` is sorted ascending, so ties
    * break to the smallest list id — exactly [[argmin]]'s
    * `ORDER BY dist2, list` semantics. */
  private[operators] def listExpr(finalCents: (Column, Column)): Column = {
    val (matrix, listIds) = finalCents
    val ds = VectorFunctions.squared_distances(col("embedding"), matrix)
    element_at(listIds, array_position(ds, array_min(ds)).cast("int"))
  }

  /** IVF top-k: probe the nProbe nearest lists per query, exact cosine
    * re-rank within them. */
  def topK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
           nLists: Int = 8, nProbe: Int = 2, nIters: Int = 1,
           memoKey: Option[String] = None): DataFrame = {
    val (probes, finalAssign) =
      probeAndAssign(emb, nQueries, nLists, nProbe, nIters, memoKey)

    val members = finalAssign.select(col("vec_id").as("n_id"), col("list"))
    val qEmb = emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .filter(col("q_id") < nQueries)
    val nEmb = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))

    // the probe table is nQueries x nProbe rows — driver-bounded by
    // construction — but it sits behind windows where size estimation
    // drifts (and a cached corpus fragment shifts it further): hint the
    // broadcast so unprobed members never shuffle for this join
    val cand = broadcast(probes).join(members, "list")
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id").distinct()
      .join(broadcast(qEmb), "q_id")
      .join(nEmb, "n_id")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    cand.withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** Incremental index MAINTENANCE: assign a new ingest batch to the
    * EXISTING coarse quantizer — the daily-update path of a deployed ANN
    * index, where retraining the quantizer would invalidate every stored
    * code (residuals are relative to the centroids), so new vectors are
    * assigned under the frozen centroids and the balance report tells the
    * operator when drift has skewed the lists enough to justify a rebuild.
    *
    * Scale shape: history is scanned ONCE to train (centroid state is
    * O(nLists x dims), collected like any k-means); the batch assignment
    * is a pure narrow map over the broadcast centroid matrix — the batch
    * never joins history rows, so yesterday's 100 TB never reshuffles to
    * ingest today's slice. Output is the per-list balance: history/new/
    * total counts and the new-vector share (exact integer counts, exact
    * double division — engine-identical). */
  def assignNewBatch(history: DataFrame, batch: DataFrame,
                     nLists: Int = 8, nIters: Int = 1): DataFrame = {
    // persisted: feeds the two coarse-centroid collects plus the history
    // assignment scan. No memoKey: this quantizer is trained on the
    // HISTORY SUBSET, not the full corpus the shared memo serves — wiring
    // it to the memo would either serve full-corpus centroids (wrong) or
    // pollute the memo with subset state under the same key.
    val h = graft.core.Parallelism.forCompute(history).persist()
    val coarse = trainCoarse(h, nLists, nIters)
    val nonEmpty = col("embedding").isNotNull && size(col("embedding")) > 0
    val hCounts = h.filter(nonEmpty).select(listExpr(coarse).as("list"))
      .groupBy("list").agg(count(lit(1)).as("n_history"))
    val bCounts = graft.core.Parallelism.forCompute(batch)
      .filter(nonEmpty).select(listExpr(coarse).as("list"))
      .groupBy("list").agg(count(lit(1)).as("n_new"))
    hCounts.join(bCounts, Seq("list"), "full_outer")
      .select(col("list").cast("long").as("list"),
        coalesce(col("n_history"), lit(0L)).as("n_history"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_total", col("n_history") + col("n_new"))
      .withColumn("new_share",
        col("n_new").cast("double") / col("n_total").cast("double"))
      .orderBy("list")
  }

  /** ANN index-quality report: per-query recall@k of the IVF index against
    * the exact brute-force top-k, at EVERY probe depth in `nProbes` — the
    * number an operator actually tunes nProbe with ("how much recall does
    * the next probe buy?"), measured from the deployed index itself rather
    * than guessed.
    *
    * One training, one candidate pass: each (query, member) candidate
    * carries the MINIMUM probe rank that reaches it (`min(probe_rank)` over
    * its member lists), so "candidates at depth p" is a filter, not a
    * re-probe — the nProbes axis explodes AFTER cosine scoring and ranks in
    * a single window over (n_probe, q_id). Recall joins are id-only; the
    * report is nProbes x nQueries rows. Exact arithmetic throughout
    * (n_hit / k is one IEEE division — engine-identical). */
  def recallReport(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                   nLists: Int = 8, nProbes: Seq[Int] = Seq(1, 2, 4, 8),
                   nIters: Int = 1, memoKey: Option[String] = None): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1), "need probe depths >= 1")
    val e = graft.core.Parallelism.forCompute(emb)
    val finalCents = coarse(e, nLists, nIters, memoKey)
    // null/empty embeddings DROPPED, same as [[assignments]]/[[probeAndAssign]]
    val finalAssign = e
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), listExpr(finalCents).as("list"))
    val wProbe = Window.partitionBy("vec_id").orderBy(col("dist2").asc, col("list").asc)
    val ranked = distances(emb.filter(col("vec_id") < nQueries), finalCents)
      .withColumn("probe_rank", row_number().over(wProbe))
      .select(col("vec_id").as("q_id"), col("list"), col("probe_rank"))
    val members = finalAssign.select(col("vec_id").as("n_id"), col("list"))
    val qEmb = emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .filter(col("q_id") < nQueries)
    val nEmb = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val scored = broadcast(ranked).join(members, "list")
      .filter(col("q_id") =!= col("n_id"))
      .groupBy("q_id", "n_id").agg(min("probe_rank").as("first_probe"))
      .join(broadcast(qEmb), "q_id")
      .join(nEmb, "n_id")
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
      .select("q_id", "n_id", "first_probe", "cos")
    val pAxis = explode(array(nProbes.map(lit): _*)).as("n_probe")
    val w = Window.partitionBy("n_probe", "q_id")
      .orderBy(col("cos").desc, col("n_id").asc)
    val topk = scored.select(col("*"), pAxis)
      .filter(col("first_probe") <= col("n_probe"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("n_probe", "q_id", "n_id")
    // brute top-k and the per-depth hit counts are nQueries x k / nProbes x
    // nQueries rows — query-bounded, never corpus-bounded — but they sit
    // behind aggregations where size estimation gives up, so hint the
    // broadcasts explicitly (an SMJ here would sort for a 32-row join)
    val brute = Similarity.bruteForceTopK(emb, nQueries, k)
      .select(col("q_id"), col("n_id"))
    val hits = topk.join(broadcast(brute), Seq("q_id", "n_id"), "left_semi")
      .groupBy("n_probe", "q_id").agg(count(lit(1)).as("n_hit"))
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), pAxis)
      .join(broadcast(hits), Seq("n_probe", "q_id"), "left")
      .select(col("n_probe").cast("long").as("n_probe"), col("q_id"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall_at_k"))
      .orderBy("n_probe", "q_id")
  }
}
