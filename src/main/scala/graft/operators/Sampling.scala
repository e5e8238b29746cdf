package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for training-data curation — the two shapes
  * a 100 TB pipeline actually needs:
  *
  *   - [[stratified]]: per-stratum rates (e.g. downsample English to 40%,
  *     keep low-resource languages whole) decided by a content-addressed
  *     hash bucket, NOT an RNG — stable across runs, engines, partitionings,
  *     and incremental re-ingestion (same property as [[Splits]]). A pure
  *     narrow map: zero shuffle, embarrassingly parallel.
  *   - [[quotaCap]]: at most N rows per group (domain caps, per-source
  *     quotas) by a deterministic rank. One hash shuffle on the group key;
  *     rank-within-group is the idiomatic window form and AQE splits skewed
  *     groups' sort spill, but the per-group sort is real — keep N small and
  *     groups many (the quota use-case) rather than using this as top-K over
  *     few giant groups (use TopKAggregator there).
  */
object Sampling {

  /** Keep a row iff its [[Splits.bucket]] (0..99) falls below the rate for
    * its stratum; strata absent from `rates` use `defaultPct`. */
  def stratified(df: DataFrame, keyCol: String, strataCol: String,
                 rates: Map[String, Int], defaultPct: Int = 100,
                 salt: String = "graft_sample_v1"): DataFrame = {
    val rate: Column = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPct)) { case (acc, (stratum, pct)) =>
        when(col(strataCol) === stratum, lit(pct)).otherwise(acc)
      }
    df.filter(Splits.bucket(col(keyCol), salt) < rate)
  }

  /** Keep the first `n` rows of each group under a deterministic total order
    * (`orderCols` must be unique within a group for stable output). */
  def quotaCap(df: DataFrame, groupCol: String, n: Int,
               orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(orderCols.map(col(_).asc): _*)
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= n)
  }

  /** Training-MIXTURE sampler: fill a `budget`-row corpus matching target
    * per-stratum weights — the domain/language mixture knob of a
    * pretraining data recipe. Each stratum gets quota = floor(budget * w),
    * and its quota fills by content-addressed hash order (NOT doc-id order
    * — id order biases toward whatever ingested first; the hash order is an
    * unbiased, reproducible shuffle per stratum). A stratum with fewer rows
    * than quota contributes everything it has — the standard under-supply
    * behavior (real recipes then re-normalize or upsample; detecting the
    * shortfall is one groupBy on the output).
    *
    * Scale shape (round-10 rework): the naive form ranks the WHOLE stratum
    * with one row_number window — a per-stratum global sort whose
    * parallelism is |strata| tasks (a handful of languages = a handful of
    * cores sorting the corpus). Instead the hash order's first 16 bits
    * bucket every row; one (stratum, bucket) count aggregation + a running
    * total over the 65536-row-per-stratum bucket grain finds the buckets
    * wholly inside the quota and the ONE straddling bucket, whose rows
    * alone (≈ corpus/65536) are window-ranked to cut the prefix exactly.
    * Only then does a window rank the SELECTED rows — bounded by `budget`,
    * a training-recipe constant, not by the corpus. Output identical to
    * the naive form (same total order, same prefix, same dense ranks —
    * SamplingSpec pins it against the retained twin).
    * Output keeps (key, stratum, mix_rk). */
  def mixture(df: DataFrame, keyCol: String, strataCol: String,
              weights: Map[String, Double], budget: Long,
              salt: String = "graft_mix_v1"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0),
      "weights must be non-negative")
    val quota = quotaOf(strataCol, weights.view.mapValues(w =>
      math.floor(budget * w).toLong).toMap)
    val sel = prefixSelect(df, keyCol, strataCol, salt, quota,
      tokensCol = None)
    val win = Window.partitionBy(strataCol)
      .orderBy(col("__h").asc, col(keyCol).asc)
    sel.withColumn("mix_rk", row_number().over(win).cast("long"))
      .drop("__h", "__b")
  }

  /** Per-stratum quota literal fold (strata absent from the map get 0). */
  private def quotaOf(strataCol: String, quotas: Map[String, Long]): Column =
    quotas.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (stratum, q)) =>
        when(col(strataCol) === stratum, lit(q)).otherwise(acc)
      }

  /** EXACT hash-order prefix per stratum without a corpus-wide sort: rows
    * whose (md5(key|salt), key) order position puts them strictly inside
    * the stratum's quota — counted in ROWS, or in TOKENS when `tokensCol`
    * is set (take-while-before-strictly-under, so the first straddling doc
    * is included; zero-token docs at the exact boundary are excluded, both
    * matching the windowed cumulative form).
    *
    * Mechanics: bucket = first 16 hash bits. Pass 1 aggregates per
    * (stratum, bucket) counts/token sums; a bucket-grain running total
    * (65536 rows per stratum, trivially small) classifies each bucket as
    * wholly-selected, straddling, or beyond. Wholly-selected buckets pass
    * through with no sort; the straddling bucket's rows (≈ n/65536) are
    * ranked alone. The hash is uniform, so bucket counts concentrate
    * sharply around n/65536 — no bucket-level skew to split. Returns the
    * selected rows with `__h`/`__b` still attached (callers rank/cumsum the
    * budget-bounded result and drop them). */
  private def prefixSelect(df: DataFrame, keyCol: String, strataCol: String,
                           salt: String, quota: Column,
                           tokensCol: Option[String]): DataFrame = {
    val withH = df
      .withColumn("__h", md5(concat(col(keyCol).cast("string"), lit("|" + salt))))
      .withColumn("__b", conv(substr(col("__h"), lit(1), lit(4)), 16, 10).cast("int"))
    val weight = tokensCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
    val counts = withH.groupBy(col(strataCol), col("__b"))
      .agg(sum(weight).as("__w"))
    val wb = Window.partitionBy(strataCol).orderBy("__b")
    val cum = counts
      .withColumn("__through", sum("__w").over(wb))
      .withColumn("__before", col("__through") - col("__w"))
      .withColumn("__q", quota)
    // wholly-selected: every row's cumulative-before stays strictly under
    // the quota even at the bucket end (row grain: __through <= __q works,
    // but the token grain needs strict — a zero-token doc AT the boundary
    // is excluded by the take-while rule — so strict-< is used for both;
    // the at-most-one bucket this reclassifies lands in the straddle path
    // and resolves identically there)
    val full = cum.filter(col("__through") < col("__q"))
      .select(col(strataCol), col("__b"))
    val straddle = cum
      .filter(col("__before") < col("__q") && col("__q") <= col("__through"))
      .select(col(strataCol), col("__b"), col("__before"), col("__q"))
    val fullRows = withH.join(broadcast(full), Seq(strataCol, "__b"))
    val wr = Window.partitionBy(strataCol)
      .orderBy(col("__h").asc, col(keyCol).asc)
    val straddleRows = withH
      .join(broadcast(straddle), Seq(strataCol, "__b"))
      .withColumn("__cumB", sum(weight).over(
        wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("__before") + col("__cumB") - weight < col("__q"))
      .drop("__cumB", "__before", "__q")
    // the using-column joins moved (strataCol, __b) to the front; restore
    // the caller's original column order so mixture/mixtureByTokens return
    // the same positional schema as their window twins
    fullRows.unionByName(straddleRows)
      .select(df.columns.map(col) :+ col("__h") :+ col("__b"): _*)
  }

  /** The pre-round-10 corpus-wide-window forms of [[mixture]] /
    * [[mixtureByTokens]], kept as parity twins: output must be identical
    * (same hash total order, same prefix cut, same ranks/cumulative). */
  private[graft] def mixtureWindow(df: DataFrame, keyCol: String,
      strataCol: String, weights: Map[String, Double], budget: Long,
      salt: String = "graft_mix_v1"): DataFrame = {
    val quota = quotaOf(strataCol, weights.view.mapValues(w =>
      math.floor(budget * w).toLong).toMap)
    val win = Window.partitionBy(strataCol)
      .orderBy(md5(concat(col(keyCol).cast("string"), lit("|" + salt))).asc,
        col(keyCol).asc)
    df.withColumn("mix_rk", row_number().over(win).cast("long"))
      .filter(col("mix_rk") <= quota)
  }

  private[graft] def mixtureByTokensWindow(df: DataFrame, keyCol: String,
      strataCol: String, tokensCol: String, weights: Map[String, Double],
      tokenBudget: Long, salt: String = "graft_mix_v1"): DataFrame = {
    val quota = quotaOf(strataCol, weights.view.mapValues(w =>
      math.floor(tokenBudget * w).toLong).toMap)
    val win = Window.partitionBy(strataCol)
      .orderBy(md5(concat(col(keyCol).cast("string"), lit("|" + salt))).asc,
        col(keyCol).asc)
    df.withColumn("cum_tokens",
        sum(col(tokensCol).cast("long")).over(
          win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") - col(tokensCol).cast("long") < quota &&
        quota > 0)
      .withColumn("cum_tokens", col("cum_tokens").cast("long"))
  }

  /** TOKEN-budget mixture sampler — [[mixture]] with the budget denominated
    * in TOKENS, which is how pretraining recipes are actually specified
    * (a 30% German share means 30% of trained-on tokens, not of documents;
    * doc quotas skew the realized mixture toward whichever stratum writes
    * shorter documents). Each stratum's token quota = floor(budget * w);
    * docs fill in the same content-addressed hash order, and a doc is taken
    * while the quota is not yet exhausted BEFORE it (running-sum window with
    * the 1-row-lagged cumulative), so the take set is a deterministic
    * prefix; the first doc straddling the boundary is included — quotas are
    * met-or-slightly-exceeded, never starved by an unlucky long doc.
    *
    * Same two-pass exact prefix selection as [[mixture]] (round-10 rework —
    * bucket-grain token totals find the straddling bucket; only its rows
    * and then the budget-bounded SELECTED set are ever window-ranked); the
    * take-while-strictly-under rule is evaluated identically, so the doc
    * set, including the boundary straddler, matches the naive windowed
    * cumulative bit for bit (SamplingSpec pins it against the twin).
    * Output keeps (key, stratum, n_tokens, cum_tokens). */
  def mixtureByTokens(df: DataFrame, keyCol: String, strataCol: String,
                      tokensCol: String, weights: Map[String, Double],
                      tokenBudget: Long,
                      salt: String = "graft_mix_v1"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0),
      "weights must be non-negative")
    val quota = quotaOf(strataCol, weights.view.mapValues(w =>
      math.floor(tokenBudget * w).toLong).toMap)
    val sel = prefixSelect(df, keyCol, strataCol, salt, quota,
      tokensCol = Some(tokensCol))
    val win = Window.partitionBy(strataCol)
      .orderBy(col("__h").asc, col(keyCol).asc)
    sel
      .withColumn("cum_tokens",
        sum(col(tokensCol).cast("long")).over(
          win.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .drop("__h", "__b")
  }

  /** EPOCH-denominated UPSAMPLING mixture — the other half of the
    * pretraining-mix knob: [[mixture]]/[[mixtureByTokens]] downsample to a
    * budget, but real recipes also REPEAT scarce high-value strata ("2.5
    * epochs of wikipedia, 0.5 of common crawl"). Every doc of a stratum
    * with e epochs appears floor(e) times, and a deterministic
    * content-addressed fraction (e - floor(e)) of its docs appears once
    * more — P(extra copy) = frac exactly, since the per-doc uniform is
    * [[unit]]'s exact 52-bit value and the comparison threshold is a
    * literal. Unmapped strata get ZERO epochs (an explicit recipe is the
    * point; silently passing a stratum through is how a mix drifts).
    *
    * Output = input columns + (n_copies, copy 1..n_copies): downstream
    * keys stay unique as (key, copy), and copy-aware shuffling/packing can
    * spread repeats across batches. Scale shape: one narrow map computes
    * copies, one `explode(sequence)` emits them — zero exchange, output
    * size = sum of stratum masses, exactly what an upsample must cost. */
  def epochMixture(df: DataFrame, keyCol: String, strataCol: String,
                   epochs: Map[String, Double],
                   salt: String = "graft_epochs_v1"): DataFrame = {
    require(epochs.nonEmpty && epochs.values.forall(e => e >= 0 && e <= 100),
      "epochs must be in [0, 100]")
    val whole: Column = epochs.toSeq.sortBy(_._1)
      .foldLeft(lit(0L)) { case (acc, (stratum, e)) =>
        when(col(strataCol) === stratum, lit(math.floor(e).toLong)).otherwise(acc)
      }
    val frac: Column = epochs.toSeq.sortBy(_._1)
      .foldLeft(lit(0.0)) { case (acc, (stratum, e)) =>
        when(col(strataCol) === stratum, lit(e - math.floor(e))).otherwise(acc)
      }
    val u = unit(col(keyCol), salt)
    df.withColumn("n_copies",
        (whole + when(u <= frac, 1L).otherwise(0L)).cast("long"))
      .filter(col("n_copies") > 0)
      .withColumn("copy", explode(sequence(lit(1L), col("n_copies"))))
  }

  /** Content-addressed uniform in (0,1]: 52 md5 bits (13 hex chars) + 1 over
    * 2^52. Every step is exact in doubles — the integer is < 2^52 so it
    * represents exactly, and the divisor is a power of two — so the value is
    * bit-identical on any engine with md5. */
  private[operators] def unit(key: Column, salt: String): Column =
    (conv(substr(md5(concat(key.cast("string"), lit("|" + salt))),
      lit(1), lit(13)), 16, 10).cast("long").cast("double") + lit(1.0)) /
      lit(4503599627370496.0)

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES): each
    * row gets priority u^(1/w) from a content-addressed uniform u, and the k
    * largest priorities win — inclusion probability is weight-proportional,
    * and the whole draw is deterministic (same salt -> same sample across
    * runs, engines, partitionings).
    *
    * Weights are restricted to {1, 2, 4} so u^(1/w) is ITERATED SQRT —
    * IEEE-correctly-rounded, hence bit-identical across engines; `pow`/`ln`
    * (the general A-ES form) carry a 1-ulp portability risk this repo's
    * determinism discipline avoids (same reasoning as TfIdf's rational idf).
    * Three tiers cover the curation use (favor low-resource languages or
    * high-quality sources 2-4x) without opening that door.
    *
    * Scale: narrow map to compute priorities, then TakeOrdered(k) — per
    * partition a k-heap, driver merges k×partitions rows; no global sort,
    * no shuffle of the corpus. */
  def weightedTopK(df: DataFrame, keyCol: String, weight: Column, k: Int,
                   salt: String = "graft_wsample_v1"): DataFrame = {
    val u = unit(col(keyCol), salt)
    val pri = when(weight === 4, sqrt(sqrt(u)))
      .when(weight === 2, sqrt(u))
      .when(weight === 1, u)
      .otherwise(raise_error(lit("weightedTopK: weight must be 1, 2, or 4")))
    df.withColumn("w", weight.cast("int"))
      .withColumn("pri", pri)
      .orderBy(col("pri").desc)
      .limit(k)
  }

  /** Deterministic STRIDE INTERLEAVING — the training-order counterpart of
    * the mixture samplers: having chosen WHAT to train on, emit the order
    * to train in, with strata spread evenly through the epoch instead of
    * concatenated (a run of one domain early in training is a curriculum
    * accident). Stride scheduling: stratum s's i-th doc (content-addressed
    * hash order, 1-based rank r) gets virtual time `(r - 0.5) / n_s` —
    * exact double arithmetic — and the global order sorts by (vtime,
    * stratum, rank). Equal-share strata alternate perfectly; a stratum
    * with k-fold more docs appears k times as often, uniformly.
    *
    * Scale shape: one window shuffle for per-stratum ranks (the mixture
    * shape) and a broadcast of the |strata|-row count relation. The
    * (vtime, stratum, rank) tuple IS the training order — the writer
    * range-partitions + sorts on it (the sort it pays anyway); an absolute
    * position column would cost a global single-task window (or a second
    * global sort to number the rows) and adds nothing the sort key lacks. */
  def strideInterleave(df: DataFrame, keyCol: String, strataCol: String,
                       salt: String = "graft_mix_v1"): DataFrame = {
    val win = Window.partitionBy(strataCol)
      .orderBy(md5(concat(col(keyCol).cast("string"), lit("|" + salt))).asc,
        col(keyCol).asc)
    val cnt = df.groupBy(strataCol).agg(count(lit(1)).as("__n"))
    df.withColumn("rank_in_stratum", row_number().over(win).cast("long"))
      .join(broadcast(cnt), strataCol)
      .withColumn("vtime",
        (col("rank_in_stratum").cast("double") - lit(0.5)) /
          col("__n").cast("double"))
      .drop("__n")
  }

  /** TEMPERATURE-scaled (alpha = 0.5) mixture — the multilingual recipe
    * knob: stratum shares proportional to sqrt(count) instead of count, so
    * scarce languages are upsampled relative to their natural share without
    * hand-written weights (the alpha-sampling of multilingual pretraining;
    * alpha is FIXED at 0.5 because sqrt is IEEE-correctly-rounded on every
    * engine where pow(x, 0.37) is not — the repo-wide transcendental rule).
    *
    * Quotas derive inside the plan (counts -> sqrt weights -> decimal-exact
    * weight total -> floor share of `budget`), never in driver floats; the
    * stratum-count relation is |strata| rows and broadcasts back. One
    * window shuffle for the content-addressed fill order, same as
    * [[mixture]]. */
  def alphaMixture(df: DataFrame, keyCol: String, strataCol: String,
                   budget: Long,
                   salt: String = "graft_mix_v1"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val cnt = df.groupBy(strataCol).agg(count(lit(1)).as("__c"))
      .withColumn("__w", sqrt(col("__c").cast("double")))
    // |strata| doubles sum through DECIMAL so partial order can't move it
    val tot = cnt.agg(
      sum(col("__w").cast("decimal(38,18)")).cast("double").as("__tw"))
    val quotas = cnt.crossJoin(broadcast(tot))
      .select(col(strataCol),
        floor(lit(budget.toDouble) * col("__w") / col("__tw"))
          .cast("long").as("__quota"))
    val win = Window.partitionBy(strataCol)
      .orderBy(md5(concat(col(keyCol).cast("string"), lit("|" + salt))).asc,
        col(keyCol).asc)
    df.withColumn("mix_rk", row_number().over(win).cast("long"))
      .join(broadcast(quotas), strataCol)
      .filter(col("mix_rk") <= col("__quota"))
      .drop("__quota")
  }

  /** Neyman-allocation stratified sampling: stratum quotas proportional to
    * N_s * sigma_s (optimal variance for estimating the mean of `valueCol`
    * under a fixed budget — high-variance strata get oversampled relative
    * to proportional allocation). Selection inside each stratum is the same
    * content-addressed rank as [[alphaMixture]] — stable across runs,
    * engines, and partitionings.
    *
    * Engine-exact numerics: moments accumulate as DECIMAL (exact,
    * order-free), the variance/sqrt/quota arithmetic is IEEE double in a
    * fixed parenthesization. Population variance (the allocation weight
    * convention); single-row strata carry sigma 0 and win no quota beyond
    * flooring. */
  def neymanAllocation(df: DataFrame, keyCol: String, strataCol: String,
                       valueCol: String, budget: Long,
                       salt: String = "graft_neyman_v1"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val stats = df.groupBy(strataCol).agg(
      count(lit(1)).as("__n"),
      sum(col(valueCol).cast("decimal(28,6)")).cast("double").as("__s"),
      sum((col(valueCol) * col(valueCol)).cast("decimal(38,6)"))
        .cast("double").as("__ss"))
    val weighted = stats.withColumn("__var",
        (col("__ss") - (col("__s") * col("__s")) / col("__n")) / col("__n"))
      .withColumn("__w", col("__n") * sqrt(greatest(col("__var"), lit(0.0))))
    val tot = weighted.agg(
      sum(col("__w").cast("decimal(38,12)")).cast("double").as("__tw"))
    val quotas = weighted.crossJoin(broadcast(tot))
      .select(col(strataCol),
        floor(lit(budget.toDouble) * col("__w") / col("__tw"))
          .cast("long").as("__quota"),
        col("__n").as("stratum_n"),
        sqrt(greatest(col("__var"), lit(0.0))).as("stratum_sigma"))
    val win = Window.partitionBy(strataCol)
      .orderBy(md5(concat(col(keyCol).cast("string"), lit("|" + salt))).asc,
        col(keyCol).asc)
    df.withColumn("sel_rk", row_number().over(win).cast("long"))
      .join(broadcast(quotas), strataCol)
      .filter(col("sel_rk") <= col("__quota"))
      .drop("__quota")
  }
  /** KISH effective sample size + design effect of a (stratified) sample —
    * the audit that says whether weighting the sample back to the
    * population costs you variance: weights per stratum are
    * w_g = pop_g / smp_g (the Horvitz-Thompson expansion), and
    * ESS = (Σ w)² / (Σ w²) collapses algebraically to
    * N² / Σ_g (pop_g² / smp_g) — each term an EXACT decimal numerator
    * with ONE division, folded in stratum order (the anovaOneWay
    * contract: an unordered IEEE sum is not an oracle). deff = n/ESS.
    *
    * A stratum with population but NO sampled rows cannot be expanded —
    * ESS/deff emit null and `n_uncovered` flags how many strata are
    * unrepresented (the caller's sampling rates are broken, which is the
    * point of running the audit).
    *
    * Scale: two group-grain aggregates (map-side combined) + one
    * strata-cardinality ladder fold. */
  def samplingEss(population: DataFrame, sample: DataFrame,
                  strataCol: String): DataFrame = {
    val pop = population.groupBy(col(strataCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("pop"))
    val smp = sample.groupBy(col(strataCol).cast("string").as("grp"))
      .agg(count(lit(1)).as("smp"))
    val joined = pop.join(smp, Seq("grp"), "left")
      .withColumn("smp", coalesce(col("smp"), lit(0L)))
    val lad = joined.agg(
      count(lit(1)).as("k"),
      sum("pop").cast("long").as("n_pop"),
      sum("smp").cast("long").as("n_sample"),
      sum(when(col("smp") === 0L, 1L).otherwise(0L)).cast("long")
        .as("n_uncovered"),
      sort_array(collect_list(struct(col("grp"), col("pop"), col("smp"))))
        .as("__lad"))
    def popD(r: Column) = r.getField("pop").cast("decimal(38,0)")
    val denom = aggregate(col("__lad"), lit(0.0), (acc, r) =>
      acc + when(r.getField("smp") > 0L,
        (popD(r) * popD(r)).cast("double") / r.getField("smp").cast("double"))
        .otherwise(lit(0.0)))
    val nPopD = col("n_pop").cast("double")
    lad.withColumn("__denom", denom)
      .select(col("k"), col("n_pop"), col("n_sample"), col("n_uncovered"),
        (col("n_sample").cast("double") / nPopD).as("coverage"),
        when(col("n_uncovered") > 0L, lit(null).cast("double"))
          .otherwise(nPopD * nPopD / col("__denom")).as("ess"),
        when(col("n_uncovered") > 0L, lit(null).cast("double"))
          .otherwise(col("n_sample").cast("double") * col("__denom")
            / (nPopD * nPopD)).as("deff"))
  }

  /** IPF RAKING (iterative proportional fitting) of a two-way training
    * mixture — "reweight the corpus so the language margins AND the
    * source margins both hit their targets": the classic survey-weighting
    * algorithm applied to dataset mixture balancing, where per-dimension
    * upsampling knobs fight each other and raking is the fixpoint that
    * satisfies both. Targets here are EQUAL SHARES per observed category
    * on each dimension (the uniform-mixture recipe); cells carry the
    * multiplicative weight, the fitted mass w·n, and the achieved margins
    * after the final iteration.
    *
    * Determinism contract: FIXED iteration count; within each iteration
    * the row step scales every cell by target_r / rowsum_r with rowsum_r
    * the ASCENDING-column-ordered fold of w·n (then the column step,
    * symmetric, ascending-row-ordered) — every double replays engine-side.
    * A margin with zero mass cannot occur (cells exist only for observed
    * combinations).
    *
    * Scale shape: ONE row-grain aggregate to the |A|×|B| cell grid;
    * the rake runs driver-side on that model-sized grid (the
    * PQ/Jacobi/Markov pattern). */
  def rakeMixture(df: DataFrame, dimA: String, dimB: String,
                  iters: Int = 10): DataFrame = {
    val cellsDf = df
      .filter(col(dimA).isNotNull && col(dimB).isNotNull)
      .groupBy(col(dimA).cast("string").as("a"), col(dimB).cast("string").as("b"))
      .agg(count(lit(1)).as("n"))
    val cells = cellsDf.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val as = cells.map(_._1).distinct.sorted
    val bs = cells.map(_._2).distinct.sorted
    val nTot = cells.map(_._3).sum
    val targetA = nTot.toDouble / as.length.toDouble
    val targetB = nTot.toDouble / bs.length.toDouble
    var w: Map[(String, String), Double] =
      cells.map(c => (c._1, c._2) -> 1.0).toMap
    val n: Map[(String, String), Long] = cells.map(c => (c._1, c._2) -> c._3).toMap
    def marginA(key: String): Double =
      bs.foldLeft(0.0)((acc, b) => acc +
        (if (n.contains((key, b))) w((key, b)) * n((key, b)).toDouble else 0.0))
    def marginB(key: String): Double =
      as.foldLeft(0.0)((acc, a) => acc +
        (if (n.contains((a, key))) w((a, key)) * n((a, key)).toDouble else 0.0))
    for (_ <- 1 to iters) {
      val ra = as.map(a => a -> (targetA / marginA(a))).toMap
      w = w.map { case ((a, b), v) => (a, b) -> v * ra(a) }
      val rb = bs.map(b => b -> (targetB / marginB(b))).toMap
      w = w.map { case ((a, b), v) => (a, b) -> v * rb(b) }
    }
    val rows = cells.map { case (a, b, cn) =>
      (a, b, cn, w((a, b)), w((a, b)) * cn.toDouble, marginA(a), marginB(b))
    }.toSeq
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("a", "b", "n", "weight", "fitted", "margin_a", "margin_b")
      .orderBy("a", "b")
  }
}
