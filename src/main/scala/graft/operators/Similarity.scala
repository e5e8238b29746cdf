package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Similarity search over an embedding column (`ArrayType(FloatType)`,
  * FIXTURES.md: `embeddings.vec_id/embedding[64]/label`).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact cosine top-k — query side broadcast, one
  *     pass over the corpus per batch of queries, partitioned rank. The
  *     baseline and the recall oracle.
  *   - [[lshTopK]]: random-hyperplane LSH bucketing (sign-bit sketches from
  *     deterministic hashed hyperplanes) — candidates only from matching
  *     buckets across L tables, then exact cosine re-rank. The 100 TB path:
  *     the corpus is scanned once to sketch (narrow map), and the join is on
  *     short bucket keys, never on the n^2 pair space.
  *
  * Recall regime (measured in `NearDupSimSpec`): sign-bit LSH collides with
  * probability (1 - theta/pi)^nBits per table — near 1 for genuinely close
  * neighbors (clustered data: recall >= 0.8 at 4x8 bits), near chance when
  * the "nearest" neighbors of an unstructured corpus sit at low cosine. On
  * corpora without neighbor structure, brute force (or IVF with high
  * nProbe) is the correct tool; LSH's win is pruning when closeness exists.
  *
  * All arithmetic is float->double widened *before* multiplying and summed
  * sequentially (the `aggregate` fold order, run by graft's native
  * expressions), so results are bit-identical across engines — no rounding
  * fudge needed for oracle parity.
  */
object Similarity {

  /** Sequential-order dot product of two float vectors, widened to double —
    * the interpreted reference form of [[graft.functions.DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Reference formulation via higher-order functions (interpreted lambdas);
    * [[graft.functions.CosineFold]] reproduces it exactly. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Hot-path cosine: codegen'd native expression, bit-identical accumulation
    * order to [[cosineHof]] (see graft.functions.CosineSimilarity). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_similarity(a, b)

  /** Exact cosine top-k: queries (vec_id < nQueries) against the whole corpus. */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val q = emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .filter(col("q_id") < nQueries)
    val c = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** Deterministic pseudo-random ±1 hyperplane component for (table, bit,
    * dim): parity of the first md5 hex char of "t_j_i". Portable to any
    * engine with md5 — the DuckDB oracle recomputes it in SQL; here it is
    * PRECOMPUTED once on the driver and shipped as literals, because the
    * value depends only on (t, j, i), never on the row. (The first version
    * recomputed 2048 md5s per row; this one does zero.) */
  private[operators] def planeSign(t: Int, j: Int, i: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${t}_${j}_$i".getBytes("UTF-8"))
    val firstHexDigit = (d(0) >> 4) & 0xf
    (firstHexDigit % 2) * 2 - 1
  }

  /** Sign-bit sketch for one table: bits = sign(v . r_j) against the literal
    * plane matrix, packed to a long. `dim` must match the embedding width. */
  private def bucketKey(v: Column, t: Int, nBits: Int, dim: Int): Column =
    (0 until nBits).map { j =>
      val plane = array((0 until dim).map(i => lit(planeSign(t, j, i).toDouble)): _*)
      val s = VectorFunctions.dot_product(v, plane)
      when(s > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)

  /** LSH-bucketed ANN top-k: L hash tables of nBits-bit sketches; candidates
    * are corpus vectors sharing any table's bucket with the query; exact
    * cosine re-rank on candidates only.
    *
    * Shuffle discipline (the 100 TB path): the sketch pass emits ONLY
    * (vec_id, tbl, key) — embeddings never ride through the explode, the
    * bucket join, or the candidate `distinct()`. The dedup exchange carries
    * two longs per candidate instead of two full float vectors; embeddings
    * rejoin from the base scan afterwards, touching only the deduped
    * candidate ids (same shape as [[NearDup.jaccardVerify]]).
    *
    * Multiprobe (`multiProbe = 1`): each query additionally probes the nBits
    * Hamming-1 neighbor buckets per table — only the (tiny, broadcast) query
    * side expands, the corpus sketch and its shuffle are untouched, and
    * recall rises as if the query had collided on any (nBits-1)-bit
    * agreement. The standard way to buy recall without another corpus-wide
    * table. */
  def lshTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
              nBits: Int = 8, tables: Int = 4, dim: Int = 64,
              multiProbe: Int = 0): DataFrame = {
    val keys = array((0 until tables).map(t =>
      struct(lit(t).as("tbl"), bucketKey(col("embedding"), t, nBits, dim).as("key"))): _*)
    val sketched = emb.select(col("vec_id"), explode(keys).as("bk"))
      .select(col("vec_id"), col("bk.tbl").as("tbl"), col("bk.key").as("key"))
    val qExact = sketched.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("tbl"), col("key"))
    val q = if (multiProbe <= 0) qExact else {
      val probeKeys = array((col("key") +:
        (0 until nBits).map(j => col("key").bitwiseXOR(lit(1L << j)))): _*)
      qExact.select(col("q_id"), col("tbl"), explode(probeKeys).as("key"))
    }
    val c = sketched.select(col("vec_id").as("n_id"), col("tbl"), col("key"))
    val cand = c.join(broadcast(q), Seq("tbl", "key"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
      .distinct()
    val qEmb = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val nEmb = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    cand.join(broadcast(qEmb), "q_id").join(nEmb, "n_id")
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  /** Derived LSH sketch width from corpus cardinality: with random
    * hyperplanes, expected bucket occupancy is ~n/2^bits per table, so
    * bits = ceil(log2(n / targetBucket)) keeps candidate-set size (and
    * with it the re-rank cost) roughly CONSTANT per query as the corpus
    * grows — the static 8-bit default is tuned for ~4k vectors and
    * degrades quadratically past it. Floor of 4 bits (below that the
    * sketch stops discriminating), cap of 24 (past that buckets are
    * near-singleton and recall dies). Deterministic: a pure function of
    * the corpus count. */
  private[operators] def lshAutoBits(n: Long, targetBucket: Int = 16): Int = {
    val raw = math.ceil(math.log(math.max(1L, n).toDouble / targetBucket) /
      math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** [[lshTopK]] with the sketch width derived from the corpus count —
    * the form to run on a corpus whose size the static default wasn't
    * tuned for (SCALE.md's "vector-LSH table/bit counts are static" gap).
    * Table count stays fixed: tables buy recall, bits buy selectivity,
    * and recall requirements don't change with corpus size. */
  def lshTopKAuto(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                  tables: Int = 4, dim: Int = 64,
                  targetBucket: Int = 16): DataFrame = {
    val bits = lshAutoBits(emb.count(), targetBucket)
    lshTopK(emb, nQueries, k, bits, tables, dim)
  }

  /** SemDeDup-style semantic near-dup pairs: k-means-cluster the embedding
    * corpus (the [[IvfIndex]] coarse quantizer, decimal-exact Lloyd), then
    * compute exact pairwise cosine only WITHIN each cluster — the
    * cluster-blocked semantic dedup recipe from the SemDeDup line of work
    * (semantically redundant docs land in the same centroid's cell; pairs
    * across cells are assumed non-duplicates by construction).
    *
    * Complementary to [[cosineNearDupPairs]]'s LSH blocking: random
    * hyperplanes block by ANGLE locally (high thresholds), k-means cells
    * block by REGION of the embedding space — the shape that also yields
    * per-cluster curation statistics, and the one that composes with an
    * existing IVF index for free (same assignment, zero extra passes).
    *
    * Scale shape (round-10 rework, measured): assignment is the IVF
    * trainer (codebook collects are O(nLists x dims)); the pair stream is
    * built by ONE cell-keyed self-join that already carries (id, vector,
    * norm) per side, so the cosine evaluates inline in the join's output
    * pipeline and the pair stream itself is never exchanged. (The previous
    * id-only candidate join + two rejoin-by-id exchanges shipped the full
    * quadratic pair stream through two extra shuffles; id-only discipline
    * pays when candidates get deduped between block and verify — LSH — but
    * cell blocking verifies EVERY candidate, so the rejoins were pure
    * overhead.) The self-join is salted [[SaltedJoin]]-style: nLists
    * distinct keys alone would cap the quadratic verify at nLists-way
    * parallelism. Per-vector norms are computed once per VECTOR (not 2x
    * per pair): cos = dot(a,b)/(nrm_a·nrm_b) is bit-identical to the fused
    * [[graft.functions.CosineSimilarity]] (same fold order, same sqrt and
    * multiply sequence — SimilaritySpec pins it). Within-cell quadratic
    * cost is the algorithm; nLists must grow with the corpus to bound cell
    * sizes (same knob an IVF index already tunes). */
  def semanticNearDupPairs(emb: DataFrame, threshold: Double = 0.4,
                           nLists: Int = 8,
                           coarseMemoKey: Option[String] = None): DataFrame = {
    val assign = IvfIndex.assignments(emb, nLists, memoKey = coarseMemoKey)
    val base = assign.select(col("vec_id"), col("list"))
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions
        .dot_product(col("embedding"), col("embedding"))))
    val a = base.select(col("list"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = base.select(col("list"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    // salts multiply the replicated (id, embedding, norm) exchange, so they
    // must NOT scale with cluster cores (a 1000-executor cluster would ship
    // the corpus thousands of times). nLists × salts ≈ parallelism is the
    // task-count target; cap at 16 — beyond that, growing nLists (which
    // also shrinks the quadratic cells) is the right knob, not more salt.
    val salts = math.min(16, math.max(2,
      (emb.sparkSession.sparkContext.defaultParallelism + nLists - 1) / nLists))
    SaltedJoin.salted(a, b, Seq("list"), saltBy = Seq("a_id"), salts = salts)
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", graft.functions.VectorFunctions
        .dot_product(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")
  }

  /** The pre-round-10 formulation of [[semanticNearDupPairs]] (id-only
    * candidate join + rejoin-by-id + fused cosine), kept as the parity
    * twin: output must be IDENTICAL, including cosine bits. */
  private[graft] def semanticNearDupPairsRejoin(emb: DataFrame,
      threshold: Double = 0.4, nLists: Int = 8): DataFrame = {
    val assign = IvfIndex.assignments(emb, nLists)
    val a = assign.select(col("vec_id").as("a_id"), col("list"))
    val b = assign.select(col("vec_id").as("b_id"), col("list"))
    val cand = a.join(b, Seq("list")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val aEmb = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val bEmb = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    cand.join(aEmb, "a_id").join(bEmb, "b_id")
      .withColumn("cos", cosine(col("a_emb"), col("b_emb")))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")
  }

  /** Embedding-cosine near-dup pairs: all pairs above a cosine threshold,
    * blocked by LSH buckets (same sketch machinery), verified exactly.
    *
    * Same shuffle discipline as [[lshTopK]]: the self-join and the candidate
    * `distinct()` see only (a_id, b_id) — at corpus scale the candidate
    * stream dwarfs the id space, so the dedup exchange must not carry 2x
    * full embeddings. Vectors rejoin from the base scan per deduped pair. */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double = 0.95,
                         nBits: Int = 8, tables: Int = 4, dim: Int = 64): DataFrame = {
    val keys = array((0 until tables).map(t =>
      struct(lit(t).as("tbl"), bucketKey(col("embedding"), t, nBits, dim).as("key"))): _*)
    val sketched = emb.select(col("vec_id"), explode(keys).as("bk"))
      .select(col("vec_id"), col("bk.tbl").as("tbl"), col("bk.key").as("key"))
    val a = sketched.select(col("vec_id").as("a_id"), col("tbl"), col("key"))
    val b = sketched.select(col("vec_id").as("b_id"), col("tbl"), col("key"))
    val cand = a.join(b, Seq("tbl", "key")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val aEmb = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val bEmb = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    cand.join(aEmb, "a_id").join(bEmb, "b_id")
      .withColumn("cos", cosine(col("a_emb"), col("b_emb")))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id", "cos")
      .orderBy("a_id", "b_id")
  }

  /** HARD-NEGATIVE mining for contrastive training: for each anchor
    * (vec_id < nQueries), the k highest-cosine vectors with a DIFFERENT
    * label — the negatives that look most like positives, which is what a
    * contrastive objective needs to sharpen a decision boundary (random
    * negatives are trivially separable and carry no gradient). Brute exact
    * form — the baseline and the oracle; [[hardNegativesIvf]] is the scale
    * path.
    *
    * Scale shape: anchors broadcast (the mined set is a training batch,
    * not the corpus), one corpus scan, bounded per-anchor rank. */
  def hardNegatives(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val q = emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
      .filter(col("q_id") < nQueries)
    val c = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("label").as("n_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "q_label", "rk", "n_id", "n_label", "cos")
      .orderBy("q_id", "rk")
  }

  /** MMR (maximal marginal relevance) diversified top-k: per anchor, greedy
    * selection of k results from its nCand nearest neighbors, trading
    * relevance against redundancy — pick 1 is the most relevant candidate;
    * pick i maximizes `lambda*rel - (1-lambda)*max_sim_to_already_picked`.
    * The standard diversification step between retrieval and consumption
    * (RAG context assembly, eval-set curation, dedup-aware sampling): plain
    * top-k hands back five paraphrases of one document; MMR spends the
    * same budget covering the neighborhood.
    *
    * Shape: greedy selection is INHERENTLY sequential in k, so k is a
    * DRIVER loop of k-1 bounded joins (the [[graft.operators.BpeTrainer]]
    * precedent) — but everything inside the loop is per-anchor data
    * parallel and bounded by nCand: the candidate table is nQueries x
    * nCand rows, the pairwise-sim table nQueries x nCand^2, both
    * checkpointed once. The corpus is touched exactly once (the top-nCand
    * scan); scale lives there, not in the k steps. lambda defaults to 0.5
    * (exactly representable, so the scoring arithmetic is engine-identical
    * IEEE; the DuckDB oracle unrolls the same k steps). */
  def mmrSelect(emb: DataFrame, nQueries: Int = 8, nCand: Int = 20,
                k: Int = 5, lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && nCand >= k, "need nCand >= k >= 1")
    val cand = bruteForceTopK(emb, nQueries, nCand)
      .select(col("q_id"), col("n_id"), col("cos").as("rel"))
      .localCheckpoint(false)
    val nEmb = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val ce = cand.join(nEmb, "n_id").select("q_id", "n_id", "n_emb")
    // directed pairwise sims among each anchor's candidates (nCand^2/query)
    val sims = ce.select(col("q_id"), col("n_id").as("a_id"), col("n_emb").as("a_emb"))
      .join(ce.select(col("q_id"), col("n_id").as("b_id"), col("n_emb").as("b_emb")), "q_id")
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        cosine(col("a_emb"), col("b_emb")).as("sim"))
      .localCheckpoint(false)
    val w = Window.partitionBy("q_id")
    var selected = cand
      .withColumn("__rn", row_number().over(
        w.orderBy(col("rel").desc, col("n_id").asc)))
      .filter(col("__rn") === 1)
      .select(col("q_id"), lit(1L).as("pick"), col("n_id"), col("rel"))
    for (i <- 2 to k) {
      val sel = selected.select(col("q_id"), col("n_id").as("s_id"))
      val remaining = cand.join(sel.withColumnRenamed("s_id", "n_id"),
        Seq("q_id", "n_id"), "left_anti")
      val next = remaining
        .join(sims.withColumnRenamed("a_id", "n_id"), Seq("q_id", "n_id"))
        .join(sel.withColumnRenamed("s_id", "b_id"), Seq("q_id", "b_id"))
        .groupBy("q_id", "n_id", "rel").agg(max("sim").as("max_sim"))
        .withColumn("mmr", col("rel") * lambda - col("max_sim") * (1 - lambda))
        .withColumn("__rn", row_number().over(
          w.orderBy(col("mmr").desc, col("n_id").asc)))
        .filter(col("__rn") === 1)
        .select(col("q_id"), lit(i.toLong).as("pick"), col("n_id"), col("rel"))
      selected = selected.unionByName(next).localCheckpoint(false)
    }
    selected.orderBy("q_id", "pick")
  }

  /** [[hardNegatives]] blocked by the IVF coarse quantizer: candidates come
    * only from each anchor's nProbe nearest cells, then exact cosine
    * re-rank — the shape that holds when the corpus no longer scans per
    * mining batch. Hard negatives are by definition NEAR the anchor, which
    * is exactly the regime where IVF recall is high (the same argument as
    * ANN search; recall asserted vs the brute form in `NearDupSimSpec`).
    * The corpus is scanned once: members carry their list and label into
    * the broadcast probe join ([[IvfIndex.probedMembers]]). */
  def hardNegativesIvf(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                       nLists: Int = 8, nProbe: Int = 2, nIters: Int = 1,
                       coarseMemoKey: Option[String] = None): DataFrame = {
    val e = graft.core.Parallelism.forCompute(emb)
    val cents = IvfIndex.trainCoarse(e, nLists, nIters, coarseMemoKey)
    val qLabel = emb.select(col("vec_id").as("q_id"), col("label").as("q_label"))
      .filter(col("q_id") < nQueries)
    val probed = IvfIndex.probes(emb, cents, nQueries, nProbe)
      .join(broadcast(qLabel), "q_id")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    IvfIndex.probedMembers(e, cents, probed, col("label").as("n_label"))
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "q_label", "rk", "n_id", "n_label", "cos")
      .orderBy("q_id", "rk")
  }

  /** BINARY-quantized ANN — the 1-bit-per-dimension regime (sign of each
    * component), the highest-compression point on the PQ family's axis:
    * a 64-dim float vector becomes 8 BYTES, Hamming distance is two
    * codegen'd `bit_count(xor)` ops, and the final answer re-ranks the
    * Hamming-best candidates with exact cosine. Binary embeddings are the
    * current production shape for billion-vector first-stage retrieval
    * (sign-bit Matryoshka/binary-MRL stacks).
    *
    * The signature packs into TWO 32-bit halves rather than one 64-bit
    * word: bit 63 of a BIGINT is its sign bit, and `1 << 63` is an
    * overflow error on engines that check (DuckDB) while wrapping on the
    * JVM — sub-31 shifts are portable everywhere, and the pair costs one
    * extra `bit_count`.
    *
    * Scale shape: the sketch pass is a narrow map (corpus scanned once,
    * 8-byte signatures); queries broadcast; the Hamming funnel keeps
    * `rerank` candidates per query (a per-query rank over
    * corpus-signature pairs — at 100 TB the signature relation is 0.4% of
    * the float corpus, and the exact-cosine join touches only the
    * surviving candidate ids). */
  def binaryTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                 rerank: Int = 20): DataFrame = {
    def half(offset: Int): Column =
      aggregate(sequence(lit(0), lit(31)), lit(0L),
        (acc, i) => acc.bitwiseOR(
          when(element_at(col("embedding"), i + offset + 1) > 0f,
            call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))))
    val sigs = emb.select(col("vec_id"), col("embedding"),
      half(0).as("sig_lo"), half(32).as("sig_hi"))
    val q = sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"))
    val c = sigs.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("sig_lo").as("n_lo"), col("sig_hi").as("n_hi"))
    val ham = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("hamming",
        (bit_count(col("q_lo").bitwiseXOR(col("n_lo"))) +
         bit_count(col("q_hi").bitwiseXOR(col("n_hi")))).cast("long"))
    val wH = Window.partitionBy("q_id")
      .orderBy(col("hamming").asc, col("n_id").asc)
    val cand = ham.withColumn("hrk", row_number().over(wH))
      .filter(col("hrk") <= rerank)
    val wC = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    cand.withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(wC).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "hamming", "cos")
      .orderBy("q_id", "rk")
  }

  /** Retrieval-quality evaluation against same-label relevance: for each
    * query, precision@k, recall@k, and MRR over the exact cosine ranking
    * (label = relevance judgment, the standard embedding-eval setup).
    * All metrics are RATIONAL arithmetic (counts and 1/rank) — engine-exact,
    * no transcendental (the reason NDCG's log2 discount is omitted: libm
    * rounding is not reproducible across engines; rank-reciprocal metrics
    * order systems the same way).
    *
    * Scale shape: the ranking lane does the corpus work; metrics touch
    * nQueries x k rows, label sizes come from one map-side count. */
  def retrievalEval(emb: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val hits = bruteForceTopK(emb, nQueries, k)
    val labels = emb.select(col("vec_id"), col("label"))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_label"))
    val q = labels.select(col("vec_id").as("__qid"), col("label").as("q_label"))
    val n = labels.select(col("vec_id").as("__nid"), col("label").as("n_label_v"))
    hits
      .join(broadcast(q), col("q_id") === col("__qid"))
      .join(broadcast(n), col("n_id") === col("__nid"))
      .withColumn("rel", (col("q_label") === col("n_label_v")).cast("long"))
      .groupBy("q_id", "q_label")
      .agg(
        sum(col("rel")).as("n_rel_at_k"),
        max(when(col("rel") === 1L, lit(1.0) / col("rk"))).as("__mrr"))
      .join(broadcast(sizes), col("q_label") === col("label"))
      .select(col("q_id"),
        col("q_label").cast("long").as("q_label"),
        col("n_rel_at_k"),
        (col("n_rel_at_k").cast("double") / lit(k.toDouble)).as("precision_at_k"),
        (col("n_rel_at_k").cast("double") / (col("n_label") - 1L).cast("double"))
          .as("recall_at_k"),
        coalesce(col("__mrr"), lit(0.0)).as("mrr"))
      .orderBy("q_id")
  }

  /** Scalar-quantization (int8) ANN funnel: coarse ranking on EXACT integer
    * dot products of symmetric int8 codes ([[VectorOps.quantizedInt8]] —
    * 1 byte/dim instead of 4), then exact full-precision cosine re-rank on
    * the surviving `rerank` candidates per query. The 4x-smaller code
    * relation is what scans at 100 TB; full vectors are touched for
    * O(nQueries x rerank) rows only.
    *
    * Coarse selection is the bounded-heap typed aggregate
    * ([[graft.functions.TopKAggregator.MaxKByScore]]), NOT a
    * `row_number().over(partitionBy(q_id))` window — the window form
    * funnels a query's entire scored corpus into one task. Integer scores
    * make the coarse phase engine-exact: the oracle reproduces the
    * candidate set bit-for-bit, no float-tie hazard. */
  def sqTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
             rerank: Int = 20): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    import graft.functions.TopKAggregator.{MaxKByScore, ScoredL}
    val staged = emb.select(col("vec_id"), col("embedding"))
      .withColumn("max_abs", VectorOps.maxAbs(col("embedding")))
      .withColumn("codes", VectorOps.quantizedInt8(col("embedding"), col("max_abs")))
    val q = staged.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("codes").as("q_codes"))
    val cand = staged.select(col("vec_id").as("n_id"), col("codes").as("n_codes"))
      .crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("iscore",
        VectorFunctions.long_dot_product(col("q_codes"), col("n_codes")))
      .select(col("q_id"), col("n_id"), col("iscore")).as[ScoredL]
      .groupByKey(_.q_id)
      .agg(new MaxKByScore(rerank).toColumn.name("hits"))
      .flatMap { case (qid, hits) => hits.map(h => (qid, h.n_id, h.iscore)) }
      .toDF("q_id", "n_id", "iscore")
    // re-rank: candidates (tiny) broadcast against the base embedding scan —
    // full vectors never rode the coarse shuffle
    val qe = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id2"), col("embedding").as("q_emb"))
    val withQ = cand.join(broadcast(qe), col("q_id") === col("q_id2"))
    val wC = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    emb.select(col("vec_id").as("n_id2"), col("embedding").as("n_emb"))
      .join(broadcast(withQ), col("n_id2") === col("n_id"))
      .withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(wC).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "iscore", "cos")
      .orderBy("q_id", "rk")
  }

  /** MATRYOSHKA (MRL-style) adaptive retrieval: rank cheaply on a PREFIX of
    * the embedding (nested-representation models pack the most signal into
    * the leading dims), keep `rerank` candidates, then re-rank with the
    * full vector. The funnel shape of [[binaryTopK]] with a different
    * first stage: prefix cosine reads `prefixDims/dims` of the bytes —
    * with dimension-major column pruning (or a separate prefix column)
    * the first pass scans an 8x smaller relation. */
  def mrlTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
              prefixDims: Int = 8, rerank: Int = 20): DataFrame = {
    val pre = slice(col("embedding"), 1, prefixDims)
    val vecs = emb.select(col("vec_id"), col("embedding"), pre.as("prefix"))
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("prefix").as("q_pre"))
    val c = vecs.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("prefix").as("n_pre"))
    val wP = Window.partitionBy("q_id")
      .orderBy(col("pre_cos").desc, col("n_id").asc)
    val cand = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("pre_cos", cosine(col("q_pre"), col("n_pre")))
      .withColumn("prk", row_number().over(wP))
      .filter(col("prk") <= rerank)
    val wC = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    cand.withColumn("cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(wC).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "pre_cos", "cos")
      .orderBy("q_id", "rk")
  }

  /** LATE-INTERACTION (ColBERT-style MaxSim) retrieval: each embedding is
    * read as `nSub` contiguous sub-vectors (the multi-vector representation
    * late-interaction models emit — one vector per token/segment);
    * relevance = Σ over query sub-vectors of the MAX cosine against any
    * candidate sub-vector. The funnel is the production shape: stage 1
    * ranks with the cheap single pooled-vector cosine (1 cosine/pair —
    * at scale this is where the ANN index goes), keeps `rerank`
    * candidates, stage 2 re-scores just those with the nSub² cosine
    * MaxSim.
    *
    * Determinism: each sub-cosine folds float→double in dimension order
    * ([[cosine]]); MAX over candidates is order-insensitive; the outer sum
    * adds in fixed sub-vector order (left fold) — engine-portable.
    *
    * Scale shape: MaxSim cost is nSub² cosines but only on nQueries×rerank
    * pairs; the corpus-grain pass stays 1 cosine/pair. The final window
    * partitions by q_id over ≤rerank rows. */
  def maxSimTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                 nSub: Int = 4, rerank: Int = 20): DataFrame = {
    val dims = 64
    val sub = dims / nSub
    def subs(c: Column): Column =
      array((0 until nSub).map(i => slice(c, i * sub + 1, sub)): _*)
    val vecs = emb.select(col("vec_id"), col("embedding"), subs(col("embedding")).as("sv"))
    val q = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("sv").as("q_sv"))
    val c = vecs.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("sv").as("n_sv"))
    val wP = Window.partitionBy("q_id").orderBy(col("pool_cos").desc, col("n_id").asc)
    val cand = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("pool_cos", cosine(col("q_emb"), col("n_emb")))
      .withColumn("prk", row_number().over(wP))
      .filter(col("prk") <= rerank)
    val maxSim = (0 until nSub).map { i =>
      greatest((0 until nSub).map(j =>
        cosine(col("q_sv").getItem(i), col("n_sv").getItem(j))): _*)
    }.reduce(_ + _)
    val wC = Window.partitionBy("q_id").orderBy(col("maxsim").desc, col("n_id").asc)
    cand.withColumn("maxsim", maxSim)
      .withColumn("rk", row_number().over(wC).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "pool_cos", "maxsim")
      .orderBy("q_id", "rk")
  }

  /** HYBRID retrieval via Reciprocal Rank Fusion — the standard way a RAG
    * stack combines lexical (TF-IDF/BM25) and dense (embedding) rankings
    * without score calibration: `rrf = sum over systems of 1/(c + rank)`,
    * rank-based so the two systems' incomparable score scales never meet.
    * Assumes aligned ids (document embeddings: vec_id == doc_id).
    *
    * Determinism: ranks are integers, each 1/(c+rank) is one exact-rounded
    * division, and the two terms add in fixed (text, vector) order —
    * engine-portable without any float fudge. A doc ranked by only one
    * system contributes only that term (the standard RRF convention).
    *
    * Scale shape: both input rankings are already query-bounded
    * (nQueries x depth rows); the fusion is a full-outer join + rank over
    * that tiny relation — the corpus-scale work lives in the two upstream
    * retrieval lanes, each with its own scale path (TF-IDF broadcast
    * vocab, ANN funnels). */
  def rrfFusion(docs: DataFrame, emb: DataFrame, nQueries: Int = 8,
                k: Int = 5, depth: Int = 20, c: Long = 60): DataFrame = {
    val text = TfIdf.topKSimilar(docs, nQueries, depth)
      .select(col("q_id"), col("n_id"), col("rk").as("text_rk"))
    val vec = bruteForceTopK(emb, nQueries, depth)
      .select(col("q_id"), col("n_id"), col("rk").as("vec_rk"))
    val fused = text.join(vec, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c.toDouble) + col("text_rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toDouble) + col("vec_rk")), lit(0.0)))
    val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("n_id").asc)
    fused.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "text_rk", "vec_rk", "rrf")
      .orderBy("q_id", "rk")
  }

  /** Embedding OUTLIER filter: cosine of every vector to its own label's
    * centroid, bottom-`bottomK` per label flagged — the CLIP-score-filter
    * shape (LAION-style): drop samples far from their class/modality
    * centroid as likely mislabeled or junk before training.
    *
    * Determinism engineering: centroid means use the DECIMAL-exact
    * component-sum discipline from [[IvfIndex]] (order-insensitive, so
    * partial-aggregation order can't move a centroid); the per-vector
    * cosine then folds float->double in dimension order.
    *
    * Scale shape: centroid state is O(nLabels x dims) — corpus-independent;
    * it collects ONCE into a map literal, so scoring is a zero-exchange
    * narrow map over the scan. The per-label rank window shuffles only
    * (id, label, cos) — never the vectors. A production variant would
    * replace the exact bottom-k window with an approx-percentile cutoff
    * (the [[graft.operators.Relational]] winsorize discipline); the exact
    * rank is what a bit-reproducible oracle can gate. */
  /** Per-label decimal-exact centroids as frozen driver state — the
    * O(nLabels x dims) codebook-budget collect shared by the batch outlier
    * rank and the stateless streaming scorer. */
  def labelCentroids(emb: DataFrame): Map[Int, Seq[Double]] = {
    val ve = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
    val cents = ve.groupBy("label", "dim")
      .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
            count(lit(1))).as("c"))
    cents.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (l, xs) => l -> xs.sortBy(_._2).map(_._3).toSeq }
  }

  /** Stateless scoring against FROZEN centroids: a zero-exchange narrow map
    * (centroids ride as a map literal), so it runs unchanged on a stream —
    * no watermark, no state store (agreement asserted in
    * `StreamingOpsSpec`). */
  def centroidScores(emb: DataFrame, cents: Map[Int, Seq[Double]]): DataFrame = {
    val cmap = typedlit(cents)
    emb.select(col("vec_id"), col("label"),
      VectorFunctions.cosine_fold(col("embedding"), element_at(cmap, col("label")))
        .as("cos_centroid"))
  }

  def centroidOutliers(emb: DataFrame, bottomK: Int = 10): DataFrame = {
    val w = Window.partitionBy("label")
      .orderBy(col("cos_centroid").asc, col("vec_id").asc)
    centroidScores(emb, labelCentroids(emb))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("is_outlier", col("rk") <= bottomK)
      .orderBy("vec_id")
  }
}
