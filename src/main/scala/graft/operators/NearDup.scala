package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection for LLM-data curation: MinHash+LSH, SimHash, and
  * n-gram Jaccard verification (north star scope; FIXTURES.md documents the
  * planted near-dup pairs in the `documents` fixture).
  *
  * Design for 100 TB:
  *   - signatures are computed per-row with codegen'd higher-order functions —
  *     a narrow map over the scan, no UDF, no shuffle, no driver involvement;
  *   - candidate generation shuffles only (band_key -> doc_id) pairs — the
  *     classic LSH bucket join; band keys are md5'd so bucket hashing is
  *     uniform; the full text never shuffles;
  *   - exact Jaccard verification touches only the candidate pairs (bounded
  *     by LSH collision count), never the n^2 pair space.
  */
object NearDup {

  val NumHashes = 16 // minhash signature length
  val NumBands = 4   // LSH bands (rows per band = 16/4 = 4)

  /** WORD n-gram shingle set (the scheme used by published LLM dedup
    * pipelines). Character n-grams are useless on low-vocabulary corpora:
    * on the fixture their hottest 5-gram occurs in 3923 of 5000 docs, so
    * every blocking scheme drowns (11.4M prefix-filter candidates); word
    * trigrams cap document frequency at 25 and cut candidates 28x while the
    * qualifying pair set is unchanged.
    *
    * Sorted ascending so intersection counts run as a codegen'd merge pass
    * (graft.functions.SortedIntersectCount); sortedness changes nothing for
    * the other consumers (min, membership, cardinality are order-free). */
  def shingles(text: Column, words: Int = 3): Column =
    // native one-pass normalize/tokenize/gram/distinct (the interpreted HOF
    // preamble dominated every gram lane — see graft.functions.WordGrams);
    // sort_array over the deduped set is unchanged
    sort_array(graft.functions.TextHashFunctions.word_grams(text, words))

  /** MinHash signature: for seed s, sig[s] = min over shingles of
    * md5(s || "_" || shingle). Lexicographic min over a uniform hash is a
    * valid min-wise hash; strings keep it portable across engines.
    * Computed by the per-row native expression (one JVM call per row instead
    * of numHashes x |shingles| interpreted lambdas — see
    * graft.functions.MinHashSignature; results identical, oracle-enforced). */
  def minhashSig(sh: Column, numHashes: Int = NumHashes): Column =
    graft.functions.TextHashFunctions.minhash_signature(sh, numHashes)

  /** The portable higher-order-function form of [[minhashSig]], kept for
    * cross-checking in tests. */
  def minhashSigHof(sh: Column): Column =
    transform(sequence(lit(0), lit(NumHashes - 1)),
      s => array_min(transform(sh, x => md5(concat(s.cast("string"), lit("_"), x)))))

  /** doc_id + shingle set + minhash signature.
    *
    * Repartitioned before the (compute-bound) signature map: a small parquet
    * file arrives as ONE split, which would serialize numHashes x |shingles|
    * md5s per doc onto a single core — partition compute-heavy narrow maps by
    * cores, not by file splits. */
  def signatures(docs: DataFrame, words: Int = 3,
                 numHashes: Int = NumHashes): DataFrame = {
    val sh = shingles(col("text"), words)
    graft.core.Parallelism.forCompute(docs)
      .select(col("doc_id"), sh.as("sh"))
      .withColumn("sig", minhashSig(col("sh"), numHashes))
  }

  /** The LSH band-key table of a signature column: `numBands` structs
    * (band b, key md5(join('|', sig[b·r+1 .. b·r+r]))) with
    * r = numHashes / numBands — the one band scheme of every MinHash lane,
    * batch and streaming (see graft.functions.BandKeys). */
  def bandKeys(sig: Column, numHashes: Int = NumHashes,
               numBands: Int = NumBands): Column =
    graft.functions.TextHashFunctions.band_keys(sig, numBands, numHashes / numBands)

  /** (doc_id, band, key) LSH band table for a signature frame — shared by
    * the symmetric self-join ([[lshCandidates]]) and the asymmetric
    * batch-vs-history lane ([[nearDupSurvivorsVsHistory]]). */
  private def bandFrame(sigs: DataFrame, numHashes: Int = NumHashes,
                        numBands: Int = NumBands): DataFrame =
    sigs.select(col("doc_id"), explode(bandKeys(col("sig"), numHashes, numBands)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** LSH banding: band key b = md5(join(sig[b*r+1 .. b*r+r])); docs sharing
    * any band key become candidate pairs. One shuffle on (band, key). */
  def lshCandidates(sigs: DataFrame, numHashes: Int = NumHashes,
                    numBands: Int = NumBands): DataFrame = {
    val exploded = bandFrame(sigs, numHashes, numBands)
    val a = exploded.alias("a")
    val b = exploded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** Exact n-gram Jaccard for a set of (a_id, b_id) candidate pairs: join the
    * shingle sets back (broadcast-sized at candidate cardinality) and compute
    * |A∩B| / |A∪B| with portable membership-count semantics. */
  def jaccardVerify(pairs: DataFrame, sigs: DataFrame): DataFrame = {
    val aSets = sigs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val bSets = sigs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    pairs.join(aSets, "a_id").join(bSets, "b_id")
      .withColumn("inter",
        graft.functions.VectorFunctions
          .sorted_intersect_count(col("a_sh"), col("b_sh")))
      .withColumn("uni",
        (size(col("a_sh")) + size(col("b_sh"))).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .select("a_id", "b_id", "inter", "uni", "jaccard")
  }

  /** Incremental NEAR-dup dedup: rows of `batch` that near-duplicate no
    * `history` document (MinHash/LSH candidates + exact Jaccard >= threshold)
    * — the fuzzy companion to [[Dedup.newAgainstHistory]] for the recurring
    * 100 TB ingest: yesterday's corpus is `history`, today's crawl is
    * `batch`, and a re-crawled page with a changed boilerplate footer must
    * still be recognized as already-held.
    *
    * Scale contract — history NEVER shuffles:
    *   1. the (small) batch band table BROADCASTS over the history band
    *     stream — candidates fall out map-side;
    *   2. the candidate h_id set (bounded by the batch's collision
    *     neighborhood) broadcasts back as a LEFT SEMI over a second history
    *     sketch pass to fetch only the needed shingle sets;
    *   3. exact verification joins candidate-bounded frames only;
    *   4. matched batch ids broadcast back as the ANTI side.
    * The price of zero history exchange is TWO history sketch passes — at
    * real scale the sketch table is persisted once per corpus snapshot and
    * both passes read it, not the raw text.
    *
    * Candidate generation is the SAME band scheme as [[minhashPairs]]
    * (bit-identical band keys), so the oracle derives the cross-set matches
    * from the shared pair chain. */
  def nearDupSurvivorsVsHistory(batch: DataFrame, history: DataFrame,
                                threshold: Double = 0.5, words: Int = 3): DataFrame = {
    val bSigs = signatures(batch, words).localCheckpoint(false) // small side
    val hSigs = signatures(history, words)
    val cand = bandFrame(hSigs)
      .withColumnRenamed("doc_id", "h_id")
      .join(broadcast(bandFrame(bSigs).withColumnRenamed("doc_id", "b_id")),
        Seq("band", "key"))
      .select("h_id", "b_id").distinct()
    val hSets = hSigs
      .join(broadcast(cand.select(col("h_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("h_id"), col("sh").as("h_sh"))
    val matched = cand
      .join(broadcast(bSigs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))),
        "b_id")
      // hSets is candidate-bounded (small by the asymmetry contract) — hint
      // it explicitly; leaving it to size estimation let a SortMergeJoin
      // slip in under some plan states
      .join(broadcast(hSets), "h_id")
      .withColumn("inter",
        graft.functions.VectorFunctions
          .sorted_intersect_count(col("h_sh"), col("b_sh")))
      .withColumn("jaccard", col("inter").cast("double") /
        ((size(col("h_sh")) + size(col("b_sh"))).cast("long") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("b_id").as("doc_id")).distinct()
    batch.join(broadcast(matched), Seq("doc_id"), "left_anti")
  }

  /** End-to-end MinHash/LSH near-dup pairs above a Jaccard threshold. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.5, words: Int = 3,
                   numHashes: Int = NumHashes, numBands: Int = NumBands): DataFrame = {
    // the signature table feeds 4 plan branches (both self-join sides of the
    // band join + both verify sides); checkpointing materializes the sketch
    // pass once instead of 4x — at 100 TB this is the "sketch once, reuse"
    // discipline, not an optimization detail
    val sigs = signatures(docs, words, numHashes).localCheckpoint(false)
    jaccardVerify(lshCandidates(sigs, numHashes, numBands), sigs)
      .filter(col("jaccard") >= threshold)
      .orderBy("a_id", "b_id")
  }

  /** Chosen LSH banding: `numHashes = numBands * rowsPerBand` minhashes,
    * one table per band. */
  final case class Banding(numBands: Int, rowsPerBand: Int) {
    def numHashes: Int = numBands * rowsPerBand
  }

  /** Auto-tuned LSH banding from the corpus itself — SCALE.md's "banding
    * parameters must scale with corpus cardinality" made executable. The
    * static (16, 4) default is tuned for ~10^4-10^5 docs; at larger n the
    * chance-collision candidate count grows ~n^2 * p_fp and the band count
    * must be re-derived, not guessed.
    *
    * Derivation (the standard S-curve fit, no free parameters left to
    * taste):
    *   - recall constraint: a pair AT the threshold t must collide in at
    *     least one of b bands of r rows with probability >= recallTarget,
    *     i.e. 1 - (1 - t^r)^b >= recallTarget — gives minimal b per r;
    *   - cost constraint: expected chance candidates
    *     ~ C(n,2) * (1 - (1 - s95^r)^b) must stay <= candidateFactor * n,
    *     where s95 is the 95th-percentile BACKGROUND similarity measured on
    *     a deterministic content-addressed sample (docs with
    *     xxhash64(doc_id) % mod == 0 — no RNG, same pick on every engine
    *     and every run; ~[[AutoTuneSampleSize]] docs, all pairs verified
    *     exactly);
    *   - among (r, b) meeting both, take the cheapest sketch (minimal
    *     b * r, then minimal b); if nothing meets the cost bound within
    *     [[AutoTuneMaxHashes]] hashes the corpus's background similarity is
    *     the problem (boilerplate regime) — return the most selective
    *     admissible (max r) so the caller still gets the recall guarantee,
    *     and the exact lanes' candidate-budget guard is the backstop.
    *
    * Runs two small actions (a count and the sample's pair quantile) at
    * call time — the price of tuning from data; at 100 TB both read the
    * persisted signature table's sample stratum, not the raw corpus. */
  def autoTuneBanding(docs: DataFrame, threshold: Double, words: Int = 3,
                      recallTarget: Double = 0.9,
                      candidateFactor: Double = 20.0): Banding = {
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    val n = docs.count().max(2L)
    val mod = math.max(1L, n / AutoTuneSampleSize)
    val sample = signatures(
      docs.filter(pmod(xxhash64(col("doc_id")), lit(mod)) === 0), words)
      .select("doc_id", "sh").localCheckpoint(false)
    // EXACT percentile over the sample's ~20k pairs (trivial at sample
    // size, deterministic under any partitioning — a sketch quantile's
    // merge-order wobble could flip the pick and break oracle agreement),
    // then snapped UP to a 0.01 grid so the chosen banding is stable under
    // fixture-scale noise and never optimistic about background collisions.
    val s95raw = jaccardVerify(
        sample.select(col("doc_id").as("a_id")).crossJoin(
          sample.select(col("doc_id").as("b_id")))
          .filter(col("a_id") < col("b_id")),
        sample)
      .agg(expr("percentile(jaccard, 0.95)")).head().getDouble(0)
    val s95 = math.max(0.01, math.ceil(s95raw * 100) / 100)
    val nPairs = n.toDouble * (n.toDouble - 1) / 2
    val budget = candidateFactor * n.toDouble
    val options = for {
      r <- 1 to 16
      tr = math.pow(threshold, r)
      if tr > 1e-12
      b = math.max(1, math.ceil(math.log1p(-recallTarget) / math.log1p(-tr)).toInt)
      if b * r <= AutoTuneMaxHashes
      fp = nPairs * (1 - math.pow(1 - math.pow(s95, r), b))
    } yield (r, b, fp)
    val admissible = options.filter(_._3 <= budget)
    val (r, b, _) =
      if (admissible.nonEmpty) admissible.minBy { case (r, b, _) => (b * r, b) }
      else options.maxBy(_._1) // most selective within the hash budget
    Banding(b, r)
  }

  private val AutoTuneSampleSize = 200L
  private val AutoTuneMaxHashes = 128

  /** [[minhashPairs]] with [[autoTuneBanding]]'s pick — the form to run on
    * a corpus whose cardinality the static default wasn't tuned for. */
  def minhashPairsAuto(docs: DataFrame, threshold: Double = 0.5,
                       words: Int = 3): DataFrame = {
    val tuned = autoTuneBanding(docs, threshold, words)
    minhashPairs(docs, threshold, words, tuned.numHashes, tuned.numBands)
  }

  /** Exact n-gram Jaccard similarity join with PREFIX FILTERING — the
    * scalable exact formulation. A naive token join is quadratic on hot
    * shingles (a shingle occurring in f docs yields f^2 candidate pairs —
    * fatal on shared-vocabulary corpora). Prefix filtering (PPJoin family)
    * is lossless for a given threshold t: two sets with Jaccard >= t MUST
    * share at least one token among each one's (|x| - ceil(t*|x|) + 1)
    * rarest tokens under a global frequency order. So:
    *   1. one small aggregate computes global token document-frequencies;
    *   2. each doc keeps only its prefix (rarest-first) tokens for the join —
    *      hot shingles drop out of the join entirely;
    *   3. candidates are verified exactly against the full shingle sets.
    * Output is IDENTICAL to the brute-force join (the DuckDB oracle runs the
    * brute form to prove it), but the join touches only rare tokens. */
  def jaccardJoin(docs: DataFrame, threshold: Double = 0.5, words: Int = 3,
                  collapseExact: Boolean = false,
                  candidateBudget: Option[Long] = None): DataFrame = {
    if (!collapseExact) {
      val (sigs, _, cand) = jaccardStages(docs, threshold, words, candidateBudget)
      jaccardVerify(cand, sigs)
        .filter(col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    } else jaccardJoinCollapsed(docs, threshold, words)
  }

  /** `collapseExact = true` form: exact-duplicate PRE-COLLAPSE (round-5
    * scale probe finding). Identical shingle SETS — boilerplate, mirrored
    * pages — are a quadratic nucleus of the candidate stage: every member
    * of an identity group pairs with everything its set pairs with, so a
    * group of g docs multiplies its set's candidates by g (and within-group
    * by g^2). Collapse each group to its min-id representative, run
    * PPJoin + verify over representatives only, expand pairs back:
    * within-group pairs have jaccard exactly 1; a qualifying representative
    * pair expands to all cross-member pairs with the SAME jaccard (members
    * share the representative's set). Output is bit-identical to the
    * default path (proven against the brute join in `NearDupSimSpec`); the
    * expansion joins are output-cardinality-bound.
    *
    * OPT-IN, not default, on measurement: on a corpus with ~no identity
    * groups (the sf1 probe's permuted corpus: 9 identity pairs in 50k docs)
    * the group/collapse/expand machinery costs ~1.8x and buys nothing —
    * the win requires identity groups to dominate the candidate stage, the
    * regime of boilerplate-heavy web crawls. Measure group mass first
    * (`groupBy(md5(sorted shingles)).count()` — seconds) and flip this on
    * when identity groups hold a large candidate share. */
  private def jaccardJoinCollapsed(docs: DataFrame, threshold: Double,
                                   words: Int): DataFrame = {
    // EAGER checkpoints: sigs feeds ~5 consumers and repSigs' lineage holds
    // an aggregation + join — with LAZY checkpoints, concurrent stages race
    // the unmaterialized cache and recompute the lineage per consumer
    // (measured 478 s vs ~170 s at the sf1 probe). repPairs materializes
    // too: it is result-sized, and the expansion would otherwise re-execute
    // the whole candidate+verify lineage (measured +321 s).
    val sigs = signatures(docs, words).select("doc_id", "sh").localCheckpoint()
    val members = sigs.select(col("doc_id"),
      md5(concat_ws("\u0001", col("sh"))).as("__fp"), size(col("sh")).as("__n"))
    val reps = members.groupBy("__fp").agg(min("doc_id").as("doc_id"))
    val repSigs = sigs.join(reps.select("doc_id"), "doc_id").localCheckpoint()
    val repPairs = jaccardVerify(candidatesFromSigs(repSigs, threshold), repSigs)
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
      .localCheckpoint()
    // within-group: every member pair of a (nonempty-set) identity group —
    // these ARE pairs of the uncollapsed join (equal sizes pass the length
    // filter, any shared prefix token gives ub = n >= alpha) with jaccard 1
    val x = members.alias("x"); val y = members.alias("y")
    val within = x.join(y,
        col("x.__fp") === col("y.__fp") &&
        col("x.doc_id") < col("y.doc_id") && col("x.__n") > 0)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        lit(1.0).as("jaccard"))
    // cross-group: representative pair -> all member cross pairs, reordered
    // (groups are disjoint, so each unordered pair surfaces exactly once)
    val crossed = repPairs
      .join(members.select(col("doc_id").as("a_id"), col("__fp").as("__fpa")), "a_id")
      .join(members.select(col("doc_id").as("b_id"), col("__fp").as("__fpb")), "b_id")
      .join(members.select(col("doc_id").as("ax"), col("__fp").as("__fpa")), "__fpa")
      .join(members.select(col("doc_id").as("bx"), col("__fp").as("__fpb")), "__fpb")
      .select(least(col("ax"), col("bx")).as("a_id"),
        greatest(col("ax"), col("bx")).as("b_id"), col("jaccard"))
    within.unionByName(crossed).orderBy("a_id", "b_id")
  }

  /** The PPJoin pipeline decomposed — (signatures, prefixes, candidates) —
    * exactly as [[jaccardJoin]] consumes them; exposed so profiling
    * (`graft.ProfileNearDup`) times the real stages, not a drifting copy. */
  def jaccardStages(docs: DataFrame, threshold: Double = 0.5,
                    words: Int = 3,
                    candidateBudget: Option[Long] = None): (DataFrame, DataFrame, DataFrame) = {
    val sigs = signatures(docs, words).select("doc_id", "sh").localCheckpoint(false)
    val (prefixes, cand) = prefixCandidates(sigs, threshold, candidateBudget)
    (sigs, prefixes, cand)
  }

  private def candidatesFromSigs(sigs: DataFrame, threshold: Double): DataFrame =
    prefixCandidates(sigs, threshold)._2

  /** Profiling access to the candidate stage ([[graft.ProfileNearDup]]). */
  private[graft] def candidatesForProfiling(sigs: DataFrame,
                                            threshold: Double): DataFrame =
    candidatesFromSigs(sigs, threshold)

  /** Buckets for the partition ("suffix") filter — a per-doc histogram of
    * token-hash buckets. 16 ints per doc is the whole exchange cost. */
  private val SuffixBuckets = 16

  /** PPJoin prefix table + filtered candidate pairs from a pre-built
    * (doc_id, sh) signature frame.
    *
    * Three lossless prunes run in sequence (output identical to the brute
    * join — the DuckDB oracle runs the brute form):
    *   1. length filter at the token join;
    *   2. ACCUMULATED positional filter at the candidate aggregation —
    *      both the classic per-match bound and the tighter accumulated
    *      bound `m + min(na - max(pa), nb - max(pb))` (m = matched prefix
    *      tokens). Soundness: arrays are sorted by the one global (df, tok)
    *      order, so any shared token ranked below the LAST matched token
    *      sits inside both prefixes and would itself have matched — hence
    *      every unmatched shared token lies strictly after the last match
    *      in BOTH suffixes, and the remaining overlap is bounded by the
    *      shorter remaining suffix. This is PPJoin's real positional
    *      filter; the per-match max form (round 4) is strictly weaker on
    *      multi-match pairs.
    *   3. SUFFIX (partition) filter before the verify exchange: each doc
    *      carries a [[SuffixBuckets]]-bucket token-hash histogram; for a
    *      candidate pair |A∩B| <= sum_k min(histA[k], histB[k]) because
    *      intersection elements land in equal buckets. Pairs whose
    *      histogram bound can't reach alpha die here — BEFORE the full
    *      shingle arrays are exchanged for exact verification. This is the
    *      PPJoin+ suffix-filter idea (bound the unseen overlap by content
    *      partitioning) in a shuffle-friendly static form: 16 ints join
    *      instead of the token arrays, and the bound is engine-portable
    *      because it only ever FILTERS (never contributes to output). */
  private def prefixCandidates(sigs: DataFrame, threshold: Double,
                               candidateBudget: Option[Long] = None): (DataFrame, DataFrame) = {
    val tokens = sigs.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("tok"))
    val dfreq = tokens.groupBy("tok").agg(count(lit(1)).as("df"))
    val prefixLen = (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int")
    // document-frequency table is the (distinct) shingle vocabulary — grows
    // sublinearly with the corpus; broadcast it so the 50x larger token
    // stream never shuffles for this join. Prefix selection is a per-row
    // array_sort over each doc's ~|sh| (df, tok) pairs — NOT a global window
    // sort over the whole token stream: same shuffle (by doc), far less sort.
    // prefix tokens WITH their rank in the df-sorted full token list — the
    // position feeds PPJoin's positional filter below
    val prefixes = tokens.join(broadcast(dfreq), "tok")
      .groupBy("doc_id", "n_sh")
      .agg(collect_list(struct(col("df"), col("tok"))).as("toks"))
      .select(col("doc_id"), col("n_sh"),
        posexplode(transform(
          slice(array_sort(col("toks")), lit(1), prefixLen),
          s => s.getField("tok"))).as(Seq("pos0", "tok")))
      .select(col("doc_id"), col("n_sh"), (col("pos0") + 1).as("pos"), col("tok"))
    // Candidate-budget guard (opt-in): the prefix-token df table prices the
    // token join EXACTLY — a prefix token shared by f docs contributes
    // ~f^2/2 raw pairs — for the cost of one id-only aggregation. The sf1
    // probe measured the exact lane quadratic (125k -> 51.5M candidates at
    // 10x data); with a budget set, a corpus in that regime fails in
    // seconds with the measured count instead of burning a cluster-day.
    candidateBudget.foreach { budget =>
      val est = prefixes.groupBy("tok").agg(count(lit(1)).as("f"))
        .agg(sum((col("f") * (col("f") - 1) / 2).cast("long")).as("pairs"))
        .head().getLong(0)
      if (est > budget) throw new IllegalStateException(
        s"jaccardJoin candidate budget exceeded: ~$est raw prefix-token pairs " +
        s"(budget $budget). The exact lane is quadratic on this corpus " +
        "(hot tokens reach the prefixes); run NearDup.minhashPairs " +
        "corpus-wide, or jaccardJoin per-stratum / with collapseExact = true.")
    }
    val aT = prefixes.select(col("doc_id").as("a_id"), col("n_sh").as("na"),
      col("pos").as("pa"), col("tok"))
    val bT = prefixes.select(col("doc_id").as("b_id"), col("n_sh").as("nb"),
      col("pos").as("pb"), col("tok"))
    // PPJoin positional filter: a matched token at ranks (pa, pb) can
    // contribute at most min(na-pa, nb-pb)+1 total overlap; if no shared
    // prefix token leaves enough headroom to reach the required overlap
    // alpha = ceil(t/(1+t) * (na+nb)), the pair cannot qualify — sound
    // pruning, result set unchanged (oracle runs the brute form).
    // Length filter first (also lossless): J >= t forces t*|A| <= |B| <= |A|/t,
    // so wildly different set sizes drop at the token join, before the
    // candidate aggregation ever sees them.
    val lengthOk = col("nb") * threshold <= col("na") &&
      col("na") * threshold <= col("nb")
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("na") + col("nb")))
    val filtered = aT.join(bT, Seq("tok")).filter(col("a_id") < col("b_id") && lengthOk)
      .groupBy("a_id", "b_id")
      .agg(max(least(col("na") - col("pa"), col("nb") - col("pb")) + 1).as("ub"),
           (count(lit(1)) +
             least(first("na") - max("pa"), first("nb") - max("pb"))).as("ub_acc"),
           first("na").as("na"), first("nb").as("nb"))
      .filter(col("ub") >= alpha && col("ub_acc") >= alpha)
    // suffix (partition) filter: join the 16-int histograms, not the arrays;
    // bucket = pmod(hash(token), 16) at hash()'s own seed, 42
    val hist = sigs.select(col("doc_id"),
      graft.functions.TextHashFunctions.bucket_counts(col("sh"), SuffixBuckets, 42)
        .as("hist"))
    val cand = filtered
      .join(hist.select(col("doc_id").as("a_id"), col("hist").as("ha")), "a_id")
      .join(hist.select(col("doc_id").as("b_id"), col("hist").as("hb")), "b_id")
      .filter(aggregate(zip_with(col("ha"), col("hb"), (x, y) => least(x, y)),
        lit(0), (acc, x) => acc + x) >= alpha)
      .select("a_id", "b_id")
    (prefixes, cand)
  }

  /** Asymmetric CONTAINMENT join: c(A->B) = |A∩B| / |A| — the subset-duplicate
    * detector Jaccard misses. A document pasted verbatim inside a much larger
    * one has containment ~1.0 from the small side but Jaccard ~|A|/|B| (below
    * any sane threshold), so symmetric near-dup lanes never pair them. The
    * reported score is max-containment = inter / min(|A|,|B|).
    *
    * Pruning is ONE-SIDED prefix filtering (lossless): c(X->Y) >= t forces X
    * to share at least one of its (|X| - ceil(t*|X|) + 1) rarest tokens with
    * Y (pigeonhole over X's tokens) — but unlike Jaccard there is NO length
    * filter and no constraint on Y's side (Y may be arbitrarily larger), so
    * each doc's prefix tokens join against the OTHER side's full token
    * stream. Hot tokens still drop out of the prefix side; the full side is
    * the honest cost of asymmetric matching. Output identical to the brute
    * token join (DuckDB oracle runs the brute form). */
  def containmentJoin(docs: DataFrame, threshold: Double = 0.8, words: Int = 3,
                      prefixExtend: Int = 4): DataFrame = {
    val sigs = signatures(docs, words).select("doc_id", "sh").localCheckpoint(false)
    val tokens = sigs.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("tok"))
    val dfreq = tokens.groupBy("tok").agg(count(lit(1)).as("df"))
    // EXTENDED prefix (lossless candidate cut): c(X->Y) >= t means Y misses
    // at most floor((1-t)|X|) of X's tokens, so among X's first
    // p = p0 + e df-rarest tokens (p0 = floor((1-t)|X|) + 1, the classic
    // prefix), at least p - p0 + 1 = e + 1 must appear in Y. Requiring e+1
    // matched prefix tokens instead of 1 collapses the coincidental
    // single-rare-token pairs that dominate low-vocabulary corpora
    // (measured sf0.1: 180k classic-prefix candidate pairs -> 256 with e=4,
    // exactly the qualifying set — the verify stage does zero wasted work)
    // at the cost of a ~(p0+e)/p0 wider prefix join. e=0 degenerates to
    // the classic filter; pruning is sound for every e >= 0.
    val p0 = (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int")
    val prefixLen = least(col("n_sh"), p0 + lit(prefixExtend)).cast("int")
    val required = (prefixLen - p0 + 1).cast("long")
    val prefixes = tokens.join(broadcast(dfreq), "tok")
      .groupBy("doc_id", "n_sh")
      .agg(collect_list(struct(col("df"), col("tok"))).as("toks"))
      .select(col("doc_id"), required.as("req"),
        explode(transform(
          slice(array_sort(col("toks")), lit(1), prefixLen),
          s => s.getField("tok"))).as("tok"))
    // prefix(X) ⋈ full(Y): covers both directions (the smaller set of any
    // qualifying pair contributes the prefix hits); count matches per
    // ordered direction, keep directions reaching their required count,
    // then normalize to a_id < b_id
    val cand = prefixes.select(col("doc_id").as("x_id"), col("req"), col("tok"))
      .join(tokens.select(col("doc_id").as("y_id"), col("tok")), Seq("tok"))
      .filter(col("x_id") =!= col("y_id"))
      .groupBy("x_id", "y_id")
      .agg(count(lit(1)).as("m"), first("req").as("req"))
      .filter(col("m") >= col("req"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
              greatest(col("x_id"), col("y_id")).as("b_id"))
      .distinct()
    val aSets = sigs.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val bSets = sigs.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    cand.join(aSets, "a_id").join(bSets, "b_id")
      .withColumn("inter",
        graft.functions.VectorFunctions
          .sorted_intersect_count(col("a_sh"), col("b_sh")))
      .withColumn("n_a", size(col("a_sh")).cast("long"))
      .withColumn("n_b", size(col("b_sh")).cast("long"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select("a_id", "b_id", "inter", "n_a", "n_b", "containment")
      .orderBy("a_id", "b_id")
  }

  /** 32-bit SimHash over word tokens: token hash = first 8 md5 hex chars as
    * int; bit j of the fingerprint is the majority vote of token bits.
    * Nested higher-order aggregates — still pure codegen'd expressions. */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
    graft.core.Parallelism.forCompute(docs).select(col("doc_id"),
      graft.functions.TextHashFunctions.simhash32(toks).as("simhash"))
  }

  /** Higher-order-function form of [[simhash]] (32 x |tokens| interpreted
    * lambda steps per row), kept for cross-checking in tests. */
  def simhashHof(docs: DataFrame): DataFrame = {
    val toks = split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
    val th = transform(toks,
      t => conv(substr(md5(t), lit(1), lit(8)), 16, 10).cast("long"))
    val nTok = size(th).cast("long")
    val fp = aggregate(sequence(lit(0), lit(31)), lit(0L),
      (acc, j) => {
        val ones = aggregate(th, lit(0L),
          (a, h) => a + call_function("getbit", h, j.cast("int")).cast("long"))
        // 2^j is exact in a double for j <= 31, so pow() is a safe dynamic shift
        acc + when(ones * 2 > nTok, pow(lit(2.0), j).cast("long")).otherwise(0L)
      })
    docs.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: block on 16-bit halves (a pair within Hamming
    * distance d collides on at least one half when d <= 16... pigeonhole with
    * 2 blocks guarantees d <= 1 per-half-exact; wider d trades recall), then
    * verify Hamming distance via bit_count(xor). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val fps = simhash(docs)
    val blocked = fps.select(col("doc_id"), col("simhash"),
        explode(array(
          struct(lit(0).as("blk"), col("simhash").bitwiseAND(65535L).as("key")),
          struct(lit(1).as("blk"), shiftright(col("simhash"), 16).as("key"))
        )).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.blk").as("blk"), col("b.key").as("key"))
    val a = blocked.alias("a")
    val b = blocked.alias("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy("a_id", "b_id")
  }

  /** Edit-distance VERIFIED near-dup pairs: simhash blocking proposes
    * candidates, token-level Levenshtein confirms them — the classic
    * blocking+verify record-linkage shape with an ORDER-SENSITIVE final
    * metric, which catches reordering and repeated-insertion duplication
    * that Jaccard over token SETS cannot distinguish.
    *
    * The verify metric is Levenshtein over hashed-token SIGNATURE strings:
    * each token maps to one character of a 64-symbol alphabet (6 md5 bits),
    * so `levenshtein(sig_a, sig_b)` IS the token-level edit distance (up to
    * a 1/64-per-pair collision underestimate — standard signature practice,
    * and bit-identical on every engine since the alphabet is
    * content-addressed). Token signatures shrink the DP from |chars|^2 to
    * |tokens|^2 per pair — ~25x on prose, measured 63 s -> ~2 s over 51k
    * sf0.1 candidates — and bound memory per comparison to the token count.
    *
    * Scale contract: the quadratic metric only ever runs on BLOCKED
    * candidate pairs (simhash half-collisions, hamming <= `hammingMax`),
    * and the candidate exchange carries ids+fingerprints only — signatures
    * rejoin from the base scan per side, so documents never ride the pair
    * explosion. A length gate (edit distance >= length gap) skips the DP
    * for pairs the ratio already rejects — and (round 10) its COARSE form
    * lives in the blocking key itself: each doc blocks on (half, key,
    * length-bucket) with the bucket on a geometric token-count grid of
    * width −ln(1 − maxRatioPct/100) in ln-space, emitted at bucket b AND
    * b+1. Any pair the ratio gate could accept has a length ratio
    * ≥ 1 − maxRatioPct/100, hence |Δ ln len| ≤ width, hence bucket
    * difference ≤ 1 — and the double emission guarantees such a pair still
    * shares a key, so the OUTPUT is provably identical; pairs ≥ 2 buckets
    * apart (which the post-block gate rejected anyway) now never become
    * candidates at all. The width carries a 1% pad so boundary-ratio pairs
    * survive double rounding of ln. At sf1 the 16-bit halves collide
    * heavily on UNRELATED docs (the decade-exponent-1.38 candidate share
    * of SCALE.md probe #6); the bucket term prunes those for free.
    * The candidate frame explicitly
    * repartitions to the cluster's parallelism first: an id-pair frame is
    * tiny in BYTES, so AQE coalesces the post-distinct shuffle to one
    * partition and the whole verify lands on a single core otherwise
    * (measured 400+ s at sf0.1) — the compute-vs-bytes mismatch
    * [[graft.core.Parallelism.forCompute]] documents for scans, applied to
    * a join output. The accept rule — distance within `maxRatioPct`% of
    * the longer side — is exact integer arithmetic, engine-identical. */
  // ---- shared verified edit-distance pairs (SharedState
  // "neardup.edit_pairs") ----
  // q_dedup_editdist emits the verified pair table; q_dedup_editdist_
  // survivors rebuilds the IDENTICAL table just to feed connected
  // components — at sf1 that is ~10 s of blocking + Levenshtein DP
  // recomputed verbatim. Share the pair-grain result per (corpus key,
  // hammingMax, maxRatioPct); q_dedup_editdist owns the build in the
  // bench. At real scale: "the linkage job publishes its evidence table;
  // clustering reads it".
  // The key folds in the docs frame's plan fingerprint: a reused corpus
  // key over a DIFFERENT input relation misses and rebuilds instead of
  // serving someone else's pair table.

  /** Build the shared pair table eagerly (bench warms this untimed). */
  def warmEditDistancePairs(docs: DataFrame, key: String,
      hammingMax: Int = 8, maxRatioPct: Int = 30): Unit =
    editDistancePairs(docs, hammingMax, maxRatioPct, Some(key)): Unit

  def editDistancePairs(docs: DataFrame, hammingMax: Int = 8,
                        maxRatioPct: Int = 30,
                        memoKey: Option[String] = None): DataFrame =
    memoKey match {
      case None => buildEditDistancePairs(docs, hammingMax, maxRatioPct)
      case Some(key) =>
        graft.core.SharedState.frame(docs.sparkSession, "neardup.edit_pairs",
          (key, hammingMax, maxRatioPct,
            graft.core.SharedState.planFingerprint(docs)))(
          buildEditDistancePairs(docs, hammingMax, maxRatioPct))
    }

  private def buildEditDistancePairs(docs: DataFrame, hammingMax: Int,
                                     maxRatioPct: Int): DataFrame = {
    // pct = 100 accepts every length ratio: width = -ln(0) = +Inf puts all
    // docs in bucket 0 and the length key prunes nothing — still exact
    require(maxRatioPct >= 1 && maxRatioPct <= 100,
      s"maxRatioPct must be in [1, 100], got $maxRatioPct")
    val cand = lenBucketedSimhashPairs(docs, hammingMax, maxRatioPct)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val toks = split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
    // one char per token: codes 48..111 (printable ASCII, single-byte)
    val sigs = docs.select(col("doc_id"),
      array_join(transform(toks, t =>
        call_function("chr",
          conv(substr(md5(t), lit(1), lit(8)), 16, 10).cast("long") % 64 + 48)), "")
        .as("sig"))
    cand
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), "b_id")
      .withColumn("len_a", length(col("a_sig")).cast("long"))
      .withColumn("len_b", length(col("b_sig")).cast("long"))
      // length gate: edit distance >= |len_a - len_b|, so a pair whose
      // token-count gap alone violates the ratio can skip the quadratic DP
      .filter((greatest(col("len_a"), col("len_b")) - least(col("len_a"), col("len_b"))) * 100
        <= greatest(col("len_a"), col("len_b")) * lit(maxRatioPct.toLong))
      .select(col("a_id"), col("b_id"), col("hamming"), col("len_a"), col("len_b"),
        levenshtein(col("a_sig"), col("b_sig")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") * 100 <= greatest(col("len_a"), col("len_b")) * lit(maxRatioPct.toLong))
      .orderBy("a_id", "b_id")
  }

  /** [[simhashPairs]] with a token-count LENGTH BUCKET added to the blocking
    * key — the candidate generator for [[editDistancePairs]] only (the plain
    * simhash lanes must keep pure-Hamming recall). Bucket = floor(ln(max(n,1))
    * / width) with width = −ln(1 − maxRatioPct/100) padded 1%; each doc emits
    * every (half, key) at bucket b AND b+1, and the self-join matches on the
    * bucket too. Exactness argument in the [[editDistancePairs]] scaladoc:
    * ratio-acceptable pairs differ by ≤ 1 bucket, so the double emission
    * never loses one; everything pruned fails the post-block ratio gate. */
  private[graft] def lenBucketedSimhashPairs(docs: DataFrame, maxDist: Int,
                                             maxRatioPct: Int): DataFrame = {
    val toks = split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
    val width = -math.log1p(-maxRatioPct / 100.0) * 1.01
    val fps = graft.core.Parallelism.forCompute(docs).select(col("doc_id"),
      graft.functions.TextHashFunctions.simhash32(toks).as("simhash"),
      floor(log(greatest(size(toks), lit(1)).cast("double")) / lit(width))
        .cast("int").as("lb"))
    val blocked = fps.select(col("doc_id"), col("simhash"),
        explode(array(
          struct(lit(0).as("blk"), col("simhash").bitwiseAND(65535L).as("key"),
            col("lb").as("lb")),
          struct(lit(1).as("blk"), shiftright(col("simhash"), 16).as("key"),
            col("lb").as("lb")),
          struct(lit(0).as("blk"), col("simhash").bitwiseAND(65535L).as("key"),
            (col("lb") + 1).as("lb")),
          struct(lit(1).as("blk"), shiftright(col("simhash"), 16).as("key"),
            (col("lb") + 1).as("lb"))
        )).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.blk").as("blk"),
        col("b.key").as("key"), col("b.lb").as("lb"))
    val a = blocked.alias("a")
    val b = blocked.alias("b")
    a.join(b, col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
              col("a.lb") === col("b.lb") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
    // no orderBy: this is candidate generation, immediately repartitioned —
    // the public simhashPairs keeps its sorted contract, this need not
  }
}
