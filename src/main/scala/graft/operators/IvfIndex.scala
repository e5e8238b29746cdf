package graft.operators

import java.math.{BigDecimal => JBig}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.Decimal

import graft.functions.VectorFunctions

/** IVF (inverted-file) approximate nearest neighbor — the clustered
  * alternative to the random-hyperplane LSH path in [[Similarity]]:
  *
  *   index build: deterministic seed partition (vec_id % nLists) -> centroid
  *   means -> one Lloyd refinement step -> final inverted lists;
  *   query: rank centroids per query, probe the nProbe nearest lists, exact
  *   cosine top-k over only those lists' members.
  *
  * Scale shape: each Lloyd step is ONE pass over the vectors with no
  * shuffle (the MLlib k-means shape): a projection computes each vector's
  * list and its components, and [[exactMeans]] sums them per (list, dim)
  * in a `treeAggregate` whose state is the nLists x dims accumulator.
  * Per-vector DISTANCES never explode-join: the (tiny) centroid matrix is
  * shipped as a literal, and [[graft.functions.SquaredDistances]] computes
  * all nLists distances per vector in one fused kernel, once per vector.
  * Merging the sums and shipping the centroids back as a literal once per
  * Lloyd iteration is the standard distributed k-means shape (centroid
  * state is O(nLists x dims), independent of corpus size). Search is one
  * narrow corpus scan as well (see [[topK]]).
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

  /** Vectors with a null or empty embedding take part in nothing: they
    * neither train, nor join as members, nor count in balances. */
  private val nonEmpty = col("embedding").isNotNull && size(col("embedding")) > 0

  /** The rows one Lloyd pass aggregates: `keys` (see [[exactMeans]]) and the
    * components cast to `decimal(28,12)` through double, as the exploded
    * `sum(cast(v as decimal(28,12)))` cast them. The key expression (the
    * SquaredDistances kernel in every Lloyd step) runs once per vector in
    * this `Project`, with no `Generate` (PlanSpec pins the shape). */
  private[operators] def meansInput(emb: DataFrame, keys: Column): DataFrame =
    emb.filter(nonEmpty).select(keys.cast("array<bigint>").as("keys"),
      transform(col("embedding"), _.cast("double").cast("decimal(28,12)")).as("v"))

  private type MeanAccs =
    scala.collection.mutable.HashMap[(Int, Long), (Array[JBig], Array[Long])]

  /** Adds n components (sums `x(i)`, counts `c(i)`) to the sums under `key`;
    * a null sum is left out but its count is kept. */
  private def addTo(accs: MeanAccs, key: (Int, Long), n: Int,
                    x: Int => JBig, c: Int => Long): Unit = {
    val (sums, counts) = accs.getOrElseUpdate(key, (new Array(n), new Array(n)))
    require(sums.length == n, s"vector dim $n != ${sums.length} under key $key")
    for (i <- 0 until n) {
      if (x(i) != null) sums(i) = if (sums(i) == null) x(i) else sums(i).add(x(i))
      counts(i) += c(i)
    }
  }

  /** Exact component means in ONE pass with no shuffle. Segment `s` of a
    * vector (dims `s * width` until `(s + 1) * width`; by default the whole
    * vector) is summed under key `keys[s]`: IVF passes one key, the list,
    * and PQ one code per subspace. `BigDecimal` addition is order-free, so
    * the means do not depend on partitioning, and each is
    * `sum.doubleValue / count` — Spark's `Decimal.toDouble` is
    * `toBigDecimal.doubleValue`, so this equals the exploded form's
    * `sum(...).cast("double") / count(lit(1))` bit for bit: a null
    * component is left out of the sum but counted, and a total that does
    * not fit `decimal(38,12)` raises the error Spark's `sum` raises. Dims
    * beyond the last key and null keys count nowhere. Returns, per segment
    * with any rows, the keys in ascending order and their centroid rows. */
  private[operators] def exactMeans(emb: DataFrame, keys: Column,
      width: Int = Int.MaxValue): Map[Int, (Seq[Long], Seq[Seq[Double]])] = {
    val accs = meansInput(emb, keys).rdd.treeAggregate(new MeanAccs)(
      (accs, row) => {
        val (ks, v) = (row.getSeq[Any](0), row.getSeq[JBig](1))
        var (s, from) = (0, 0)
        while (s < ks.length && from < v.length) {
          val until = if (v.length - from > width) from + width else v.length
          if (ks(s) != null)
            addTo(accs, (s, ks(s).asInstanceOf[Long]), until - from, i => v(from + i), _ => 1L)
          s += 1
          from = until
        }
        accs
      },
      (a, b) => {
        b.foreach { case (k, (sums, counts)) => addTo(a, k, sums.length, sums(_), counts(_)) }
        a
      })
    accs.toSeq.groupBy(_._1._1).map { case (seg, byKey) =>
      val sorted = byKey.sortBy(_._1._2)
      seg -> (sorted.map(_._1._2), sorted.map { case (key, (sums, counts)) =>
        sums.indices.map { i =>
          require(sums(i) != null, s"dim $i under key $key has no non-null value")
          if (!Decimal(sums(i)).changePrecision(38, 12))
            throw ColumnBridge.overflowInSumOfDecimalError()
          sums(i).doubleValue / counts(i).toDouble
        }
      })
    }
  }

  /** One Lloyd pass: centroids of the vectors grouped by `listCol`, as the
    * packed (matrix, listIds) literals. Lists are ordered by id; a list
    * emptied by the Lloyd step simply drops out, which is why positions
    * map back through `listIds` rather than assuming 0..n. */
  private def centroids(emb: DataFrame, listCol: Column): (Column, Column) = {
    val (listIds, matrix) = exactMeans(emb, array(listCol))
      .getOrElse(0, (Seq.empty[Long], Seq.empty[Seq[Double]]))
    (typedLit(matrix), typedLit(listIds))
  }

  /** DECIMAL-exact squared distance of every vector to every centroid:
    * (vec_id, list, dist2) — nLists rows per vector, single scan, no join.
    * The exploded form [[assignmentsLegacy]] assigns with. */
  private def distances(emb: DataFrame, packed: (Column, Column)): DataFrame = {
    val (matrix, listIds) = packed
    emb.select(col("vec_id"),
        posexplode(VectorFunctions.squared_distances(col("embedding"), matrix))
          .as(Seq("pos", "dist2")))
      .withColumn("list", element_at(listIds, col("pos") + 1))
      .select("vec_id", "list", "dist2")
  }

  /** The pre-round-11 trainer+assignment path (exploded centroid join,
    * windowed argmin), kept as the parity twin: NearDupSimSpec pins
    * [[assignments]] identical to this on fixture data. */
  private[graft] def assignmentsLegacy(emb: DataFrame, nLists: Int = 8,
                                       nIters: Int = 1): DataFrame = {
    def centroidsJoin(ve: DataFrame, assign: DataFrame): (Column, Column) = {
      val byList = ve.join(assign, "vec_id")
        .groupBy("list", "dim")
        .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
              count(lit(1))).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .groupBy(_._1).toSeq.sortBy(_._1)
      (typedLit(byList.map(_._2.sortBy(_._2).map(_._3).toSeq)),
        typedLit(byList.map(_._1)))
    }
    val ve = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
    val seed = emb.select(col("vec_id"),
      pmod(col("vec_id"), lit(nLists.toLong)).as("list"))
    var cents = centroidsJoin(ve, seed)
    (1 to nIters).foreach { _ =>
      cents = centroidsJoin(ve, argmin(distances(emb, cents)))
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
    * centroid literals. Each iteration is one shuffle-free pass over the
    * vectors (list + exact sums, [[exactMeans]]) + one O(nLists x dims)
    * merge — the standard distributed k-means loop; cost is linear
    * in iterations, corpus scanned once per iteration, centroid state
    * independent of corpus size. */
  private def lloyd(emb: DataFrame, nLists: Int,
                    nIters: Int): (Column, Column) = {
    var cents = centroids(emb, pmod(col("vec_id"), lit(nLists.toLong)))
    (1 to nIters).foreach { _ =>
      cents = centroids(emb, listExpr(cents))
    }
    cents
  }

  // ---- shared trained coarse quantizer (SharedState "ivf.coarse") ----
  // Eight lanes in the suite train the SAME (nLists=8, nIters=1) coarse
  // quantizer on the SAME embeddings table — IVF/IVF-PQ/IVF-RPQ top-k,
  // cluster histogram, recall report, hard-negative mining, semantic
  // dedup, residual PQ codes. (q_vec_assign_new trains a ninth quantizer
  // but on its HISTORY SUBSET — deliberately outside this state, see
  // [[assignNewBatch]].) Decimal-exact centroid sums make the result
  // bit-identical across call paths and partitionings, so one trained
  // quantizer serves all consumers. The value is MODEL-SIZED DRIVER STATE
  // (nLists x dims literal columns, a few KB) — no blocks to pin. At real
  // scale this is "train the index once, persist the centroid matrix next
  // to it, every reader loads it".
  // Callers opt in with a memoKey naming the input corpus (the bench/
  // Verify pass the sf dir); the default None trains fresh. The key
  // deliberately has NO column-name component: every entry point reads
  // the fixed (vec_id, embedding) schema (the BpeTrainer key lesson — a
  // key narrower than the call's free parameters serves wrong state).
  // ... plus the training frame's plan fingerprint: a reused corpus key
  // over a different embeddings relation misses and retrains instead of
  // serving a quantizer trained on someone else's vectors. Every call site
  // passes forCompute(emb), so owner and consumers fingerprint the same
  // plan shape.
  /** [[lloyd]] through the shared-quantizer state (see above): a memoKey
    * names the training corpus; None bypasses it entirely. */
  private def coarse(emb: DataFrame, nLists: Int, nIters: Int,
                     memoKey: Option[String]): (Column, Column) =
    memoKey match {
      case None => lloyd(emb, nLists, nIters)
      case Some(key) =>
        graft.core.SharedState.getOrBuild(emb.sparkSession, "ivf.coarse",
          (key, nLists, nIters, graft.core.SharedState.planFingerprint(emb)))(
          lloyd(emb, nLists, nIters))
    }

  /** Train the shared quantizer eagerly so later lanes hit a warm entry
    * (the bench warms this untimed at suite start). */
  def warmCoarse(emb: DataFrame, key: String, nLists: Int = 8,
                 nIters: Int = 1): Unit =
    coarse(graft.core.Parallelism.forCompute(emb), nLists, nIters,
      Some(key)): Unit

  /** Drop this session's trained quantizers. */
  def resetCoarseMemo(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.core.SharedState.reset(spark, "ivf.coarse")

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
    e.filter(nonEmpty).select(col("vec_id"), listExpr(cents).as("list"))
  }

  /** Train the coarse quantizer and return the packed (matrix, listIds)
    * centroid literals — the input [[PqIndex.ivfpqTopK]] needs to prune
    * lists with a single narrow corpus scan. */
  private[operators] def trainCoarse(emb: DataFrame, nLists: Int,
      nIters: Int, memoKey: Option[String] = None): (Column, Column) =
    coarse(graft.core.Parallelism.forCompute(emb), nLists, nIters, memoKey)

  /** Per-query probes under pre-trained centroids: (q_id, probe, list,
    * q_emb), one row for each of the query's nProbe nearest lists, `probe`
    * being its 1-based rank. The query's distances pair with their list ids
    * as structs, and `array_sort` orders them by distance, then list id
    * (the `ORDER BY dist2, list` a window would apply), so probing needs no
    * window and no shuffle. A query's probed lists are distinct. */
  private[operators] def probes(emb: DataFrame, finalCents: (Column, Column),
                                nQueries: Int, nProbe: Int): DataFrame = {
    val (matrix, listIds) = finalCents
    val byDist = array_sort(zip_with(
      VectorFunctions.squared_distances(col("embedding"), matrix), listIds,
      (d, l) => struct(d.as("dist2"), l.as("list"))))
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        posexplode(slice(byDist, 1, nProbe)).as(Seq("pos", "p")))
      .select(col("q_id"), (col("pos") + 1).as("probe"), col("p.list").as("list"),
        col("q_emb"))
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

  /** Probed corpus members with their exact cosine: every non-empty vector
    * is scanned ONCE with its list (`n_id`, `list`, `n_emb`), joins the
    * broadcast probes on `list` and is scored against the probing query.
    * Each member is in exactly one list and a query's probed lists are
    * distinct, so each (q_id, n_id) pair occurs once: no member join, no
    * `distinct`, no join back to the embeddings. `extra` columns of `e`
    * ride along with the member. */
  private[operators] def probedMembers(e: DataFrame, cents: (Column, Column),
      probed: DataFrame, extra: Column*): DataFrame =
    e.filter(nonEmpty)
      .select(Seq(col("vec_id").as("n_id"), listExpr(cents).as("list"),
        col("embedding").as("n_emb")) ++ extra: _*)
      .join(broadcast(probed), "list")
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))

  /** IVF top-k: probe the nProbe nearest lists per query, exact cosine
    * re-rank within them — one narrow corpus scan into the broadcast probe
    * join ([[probedMembers]]), then `row_number` over
    * (q_id ORDER BY cos DESC, n_id ASC) <= k. Spark plans that rank limit
    * as a partial `WindowGroupLimit` below the q_id exchange, so only k
    * candidates per query per task shuffle (PlanSpec pins it). */
  def topK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
           nLists: Int = 8, nProbe: Int = 2, nIters: Int = 1,
           memoKey: Option[String] = None): DataFrame = {
    val e = graft.core.Parallelism.forCompute(emb)
    val cents = coarse(e, nLists, nIters, memoKey)
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    probedMembers(e, cents, probes(emb, cents, nQueries, nProbe))
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
    * One training, one candidate pass: probing to the deepest depth, each
    * (query, member) candidate carries the rank of the probe that reached
    * it (a member is in one list, so that rank is its first probe), and
    * "candidates at depth p" is a filter, not a re-probe — the nProbes axis
    * explodes AFTER cosine scoring and ranks in a single window over
    * (n_probe, q_id). Recall joins are id-only; the report is nProbes x
    * nQueries rows. Exact arithmetic throughout (n_hit / k is one IEEE
    * division — engine-identical). */
  def recallReport(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                   nLists: Int = 8, nProbes: Seq[Int] = Seq(1, 2, 4, 8),
                   nIters: Int = 1, memoKey: Option[String] = None): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1), "need probe depths >= 1")
    val e = graft.core.Parallelism.forCompute(emb)
    val finalCents = coarse(e, nLists, nIters, memoKey)
    val scored = probedMembers(e, finalCents,
        probes(emb, finalCents, nQueries, nProbes.max))
      .select(col("q_id"), col("n_id"), col("probe").as("first_probe"), col("cos"))
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
