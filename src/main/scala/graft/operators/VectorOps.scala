package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Embedding-column preprocessing for similarity/ANN pipelines: L2
  * normalization and int8 quantization — the standard storage/compute
  * reductions applied before indexing at scale (quantized vectors are 4x
  * smaller on the wire and in memory; normalized vectors turn cosine into a
  * plain dot product).
  *
  * Every op is a narrow map over the scan — zero shuffle. Vector columns are
  * `array<float|double>`. Arithmetic is float->double widened and
  * sequentially ordered (the `aggregate` fold order, run by graft's native
  * expressions), matching the determinism discipline of [[Similarity]] so
  * the DuckDB oracle reproduces results bit-identically.
  */
object VectorOps {

  /** Sequential-order L2 norm, float widened to double. */
  def l2Norm(v: Column): Column = sqrt(VectorFunctions.sum_squares(v))

  def maxAbs(v: Column): Column =
    array_max(transform(v, x => abs(x.cast("double"))))

  /** Unit-normalize to `array<double>` (null-safe only for non-zero norms —
    * callers filter zero vectors, which have no direction to keep). */
  def normalized(v: Column): Column = {
    val n = l2Norm(v)
    transform(v, x => x.cast("double") / n)
  }

  /** Symmetric int8 quantization with a PRE-COMPUTED max|x| column: scale =
    * 127 / max|x|, element = floor(x * scale). `floor` (not round) keeps the
    * result engine-portable — IEEE division and multiply are exactly
    * reproducible, banker's-vs-half-up rounding is not. Output range is
    * [-128, 127] (the negative max element floors to -128 when (127/m)*m
    * overshoots by an ulp — still valid int8). Zero vectors quantize to all
    * zeros. Stage `m` as a named column (see [[quantizeDigest]]) so it is
    * computed once per row. */
  def quantizedInt8(v: Column, m: Column): Column =
    transform(v,
      x => when(m === 0.0, lit(0L))
        .otherwise(floor(x.cast("double") * (lit(127.0) / m)).cast("long")))

  /** Convenience single-argument form. WARNING: an expression (not a named
    * column) referenced inside a `transform` lambda is re-evaluated per
    * element — this form pays O(dims) array_max per element, O(dims^2) per
    * row. Fine for ad-hoc use; hot paths must stage max|x| first and call
    * the two-argument overload. */
  def quantizedInt8(v: Column): Column = quantizedInt8(v, maxAbs(v))

  /** Oracle-facing digest: the array-valued ops reduced to scalar columns
    * (norm, max|x|, quantized sum/min/max) so the DuckDB hash gate compares
    * plain columns; the arrays themselves feed downstream operators.
    *
    * Staged through named columns deliberately: referencing `maxAbs` inside
    * the per-element lambda re-evaluates the O(dims) array_max PER ELEMENT
    * (O(dims^2)/row), and reusing the quantized-array expression in three
    * consumers recomputes it three times — Catalyst's CollapseProject keeps
    * a non-cheap alias staged instead of inlining it, so materializing each
    * as a column computes each exactly once per row (measured 3.1s -> sub-
    * second at sf0.1). */
  def quantizeDigest(df: DataFrame, id: String = "vec_id",
                     emb: String = "embedding"): DataFrame = {
    val staged = df
      .select(col(id), col(emb).as("__v"))
      .withColumn("max_abs", maxAbs(col("__v")))
      .withColumn("l2_norm", l2Norm(col("__v")))
      .withColumn("__q", quantizedInt8(col("__v"), col("max_abs")))
    staged.select(col(id),
      col("l2_norm"),
      col("max_abs"),
      aggregate(col("__q"), lit(0L), (a, x) => a + x).as("q_sum"),
      array_min(col("__q")).as("q_min"),
      array_max(col("__q")).as("q_max"))
  }

  /** Deterministic ±1 sign for projection cell (j, i): parity of the first
    * md5 hex digit of "rp_j_i" — same scheme as [[Similarity.planeSign]]
    * under an independent seed prefix, so projection planes and LSH planes
    * are uncorrelated. Recomputable in any engine with md5 (the oracle does). */
  private[operators] def projSign(j: Int, i: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp_${j}_$i".getBytes("UTF-8"))
    (((d(0) >> 4) & 0xf) % 2) * 2 - 1
  }

  /** Signed random projection to `outDims` dimensions: out[j] = Σ_i v[i] ·
    * sign(j,i) — the Achlioptas-style database-friendly JL projection (±1
    * entries, no gaussians), the standard dimensionality reduction before
    * sketching/ANN when 64-d embeddings are still too wide to shuffle.
    *
    * The sign matrix is driver-precomputed literals (zero per-row hashing);
    * each output is a sequential left-fold in doubles — multiplication by
    * ±1.0 is exact and the fold order matches DuckDB's `list_reduce`, so
    * results are bit-identical cross-engine. Narrow map, zero shuffle. */
  def randomProject(v: Column, outDims: Int = 8, dim: Int = 64): Column =
    array((0 until outDims).map { j =>
      val signs = array((0 until dim).map(i => lit(projSign(j, i).toDouble)): _*)
      VectorFunctions.dot_product(v, signs)
    }: _*)

  /** Query-facing projection digest: one scalar column per projected
    * component (`proj_0..proj_{outDims-1}`) plus the (sequentially-ordered)
    * squared norm. Scalar-only output by design — downstream consumers that
    * want the vector use [[randomProject]] directly; the flat shape keeps
    * the result sortable/hashable by any relational comparator. `proj`
    * staged as a named column so the component extraction and the norm fold
    * evaluate the projection once per row. */
  def projectDigest(df: DataFrame, outDims: Int = 8, dim: Int = 64,
                    id: String = "vec_id", emb: String = "embedding"): DataFrame = {
    val comps = (0 until outDims).map(j => col("proj")(j).as(s"proj_$j"))
    graft.core.Parallelism.forCompute(df)
      .select(col(id), randomProject(col(emb), outDims, dim).as("proj"))
      .select(col(id) +: comps :+
        VectorFunctions.sum_squares(col("proj")).as("norm2"): _*)
  }

  /** Chunk->document embedding pooling: the element-wise MEAN of each
    * group's vectors, folded in a DETERMINISTIC member order (vectors are
    * collected per group, sorted by the member id, then summed
    * sequentially — float addition is order-sensitive, so the order IS
    * part of the contract; any partitioning and any engine lands on the
    * same doubles). The standard long-doc embedding recipe: embed chunks,
    * mean-pool to one vector per document.
    *
    * Scale shape: one groupBy on the pooling key; per-group state is the
    * member list (chunks per doc — bounded small by construction in a
    * chunked-embedding pipeline, NOT corpus-scale). Output one row per
    * group with the pooled `array<double>`. */
  def meanPool(df: DataFrame, groupCol: String, memberCol: String,
               emb: String = "embedding"): DataFrame = {
    val sorted = sort_array(collect_list(
      struct(col(memberCol).as("m"), col(emb).as("e"))))
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_members"), sorted.as("__s"))
      .withColumn("pooled",
        transform(
          element_at(col("__s"), 1)("e"),
          (_, i) => aggregate(col("__s"), lit(0.0),
            (a, s) => a + element_at(s("e"), i + 1).cast("double"))
            / col("n_members").cast("double")))
      .select(col(groupCol), col("n_members"), col("pooled"))
  }

  /** Per-group embedding-health audit — the gate an ANN build runs BEFORE
    * indexing 100 TB of vectors: a corrupted producer (NaN/Inf features,
    * zero vectors, ragged dimensions, norm drift between shards) poisons
    * centroids and distance math silently, and is far cheaper to catch at
    * the audit than to diagnose from bad recall.
    *
    * Per group: row count, min/max observed dimension (ragged feeds show
    * as min≠max), non-finite-feature row count, zero/near-zero-norm row
    * count (`‖v‖² < 10⁻¹²` — no direction to index), and squared-norm
    * extremes + mean. Determinism: per-row squared norm is the
    * [[l2Norm]] sequential fold (correctly-rounded IEEE ops in array
    * order); the MEAN accumulates the per-row value cast to
    * `DECIMAL(28,10)` — exact, order-free summation — with one final
    * IEEE division. (A double at scale-10 decimal midpoints cannot exist
    * — midpoints carry a 5¹¹ factor, doubles are dyadic — so the per-row
    * cast rounds identically on every engine.) min/max compare exact
    * doubles: order-free.
    *
    * Scale: one narrow map + one row-grain groupBy (map-side combined) to
    * a #groups-row report. Zero joins, zero windows. */
  /** Feature covariance matrix of an embedding column — the input to
    * whitening / PCA and the standard drift check between embedding
    * producers (two encoder versions with the same per-dim means can still
    * disagree in cross-moments). Emits one row per unordered dim pair
    * (i ≤ j, 0-based): exact integer moment sums over the quantized grid
    * plus the population covariance as a division-only double.
    *
    * Determinism: features land on the 2⁻²⁰ grid via `floor(x · 2²⁰)` —
    * the scale is a POWER OF TWO, so the multiply only shifts the double's
    * exponent (EXACT), and floor is engine-portable; every moment after
    * that is exact integer/decimal arithmetic (operands cast decimal(19,0)
    * BEFORE multiplying — a long q·q overflows past |x|~3e3 at this grid).
    * Deliberately NOT the `cast(double as decimal)` route: that cast is
    * not correctly rounded on every engine and flips ~1e-6 of values —
    * measured, one flipped feature in this table's 32k. The grid error
    * (≤2⁻²⁰ per feature, ~1e-6 relative on unit-norm embeddings) is far
    * below any drift/PCA decision threshold.
    *
    * Scale: the suffix re-explode is a NARROW map (the d²/2 amplification
    * happens inside the scan partition), and the hash aggregate map-side
    * combines to d²/2 groups per partition — the shuffle is d²/2 rows
    * TOTAL (2080 for d=64) regardless of row count. Zero joins. */
  def covarianceMatrix(df: DataFrame, vecCol: String): DataFrame = {
    // round-11 measured rewrite: ONE typed moment-grid aggregate instead of
    // the d²/2-per-row posexplode into a hash aggregate (the exploded twin
    // below, kept for parity specs — CovMatrixSpec pins bit-identity). Per
    // vector this is a tight triangular integer loop into a flat long[]
    // buffer; partials merge elementwise, so nothing row-amplified ever
    // exists and the exchange is ~170 KB of buffers, not pair rows.
    val spark = df.sparkSession
    implicit val vecEnc: org.apache.spark.sql.Encoder[Seq[java.lang.Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[java.lang.Double]]()
    val cells = graft.core.Parallelism.forCompute(df)
      .select(col(vecCol).cast("array<double>"))
      .as[Seq[java.lang.Double]]
      .select(new graft.functions.CovMomentAggregator.MomentGrid()
        .toColumn.name("cells"))
      .toDF("cells")
      .select(explode(col("cells")).as("c"))
    cells.select(
        col("c.i").as("i"), col("c.j").as("j"), col("c.n").as("n"),
        col("c.sum_qx").as("sum_qx"),
        col("c.sum_qy").as("sum_qy"),
        col("c.sum_qxy").as("sum_qxy"))
      .withColumn("cov_pop",
        (col("sum_qxy") - col("sum_qx") * col("sum_qy") / col("n").cast("double"))
          / col("n").cast("double") / lit(1099511627776.0))
      .orderBy("i", "j")
  }

  /** The exploded decimal-sum form of [[covarianceMatrix]], kept as the
    * parity twin: output must be IDENTICAL (same exact integer moments
    * surfaced through the same correctly-rounded double casts and the same
    * final IEEE chain) on any input within the decimal(30,0) domain. */
  private[graft] def covarianceMatrixExploded(df: DataFrame, vecCol: String): DataFrame = {
    val v = col(vecCol)
    // (i, xᵢ, suffix from i): the second posexplode walks the suffix so
    // each unordered pair appears exactly once, no self-join
    val first = df.select(posexplode(v).as(Seq("i", "xi")), v.as("__v"))
    val pairs = first.select(
      col("i").cast("long").as("i"), col("xi"),
      posexplode(slice(col("__v"), col("i") + 1, size(col("__v")) - col("i")))
        .as(Seq("j0", "xj")))
    def grid(c: Column): Column =
      floor(c.cast("double") * lit(1048576.0)).cast("long")
    val qxD = col("qx").cast("decimal(19,0)")
    val qyD = col("qy").cast("decimal(19,0)")
    pairs
      .select(col("i"), (col("i") + col("j0")).cast("long").as("j"),
        grid(col("xi")).as("qx"), grid(col("xj")).as("qy"))
      .groupBy("i", "j")
      .agg(
        count(lit(1)).as("n"),
        sum(qxD).as("sum_qx"),
        sum(qyD).as("sum_qy"),
        sum(qxD * qyD).as("sum_qxy"))
      // moment sums surface as DOUBLE, not decimal: the aggregation is
      // exact decimal throughout, but a decimal OUTPUT column is engine-
      // ambiguous at the comparison layer (pandas reads parquet decimals
      // as Decimal objects; DuckDB's df() renders them float64 — same
      // value, different type, hash mismatch). Int sums here are < 2^53
      // (n·2^40 at fixture scale), so the double carries them exactly;
      // the decimal→double cast is correctly rounded on both engines.
      .select(col("i"), col("j"), col("n"),
        col("sum_qx").cast("double").as("sum_qx"),
        col("sum_qy").cast("double").as("sum_qy"),
        col("sum_qxy").cast("double").as("sum_qxy"),
        ((col("sum_qxy").cast("double")
          - col("sum_qx").cast("double") * col("sum_qy").cast("double")
            / col("n").cast("double"))
          / col("n").cast("double") / lit(1099511627776.0)).as("cov_pop"))
      .orderBy("i", "j")
  }

  def normAudit(df: DataFrame, vecCol: String, groupCol: String): DataFrame = {
    val v = col(vecCol)
    val sq = VectorFunctions.sum_squares(v)
    val nonFinite = exists(v,
      x => isnan(x.cast("double")) || abs(x.cast("double")) === lit(Double.PositiveInfinity))
    // norm stats are over FINITE rows only — a NaN feature would poison
    // min/max/mean (and decimal casts of NaN are not portable); the
    // non-finite rows are reported by count instead
    val fin = when(col("__bad") === 0L, col("__sq"))
    df.select(col(groupCol).as("grp"), size(v).as("__dim"),
        sq.as("__sq"), nonFinite.cast("long").as("__bad"))
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n"),
        min("__dim").cast("long").as("dim_min"),
        max("__dim").cast("long").as("dim_max"),
        sum("__bad").as("n_nonfinite"),
        sum(when(col("__bad") === 0L && col("__sq") < 1e-12d, 1L)
          .otherwise(0L)).as("n_zero"),
        min(fin).as("sq_min"),
        max(fin).as("sq_max"),
        (sum(fin.cast("decimal(28,10)")).cast("double") /
          (count(lit(1)) - sum(col("__bad"))).cast("double")).as("sq_mean"))
      .orderBy("grp")
  }
}
