package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftConfig, HanaTypes}
import graft.operators._
import graft.sinks.AppendSink
import graft.sources.{JdbcRoundtrip, Tables, TextSources}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB oracle SQL where expressible.
  *
  * Determinism rules (SURVEY.md §5, FIXTURES.md): every query ends in an
  * ORDER BY whose suffix is a unique key; aggregates over doubles go through
  * DECIMAL casts (exact, order-insensitive) in BOTH engines; row_number-ish
  * outputs are cast to long to match DuckDB's BIGINT.
  */
object SparkEntry {

  /** epoch seconds of 1995-01-01T00:00:00Z — the `--startTime` stand-in. */
  val Start = 788918400L
  val ChunkSize = 500L

  private def cfg = GraftConfig(
    tableName = "lineitem", timestampColumn = "ts_epoch",
    startTime = Start, chunkSize = ChunkSize)

  /** lineitem with the numeric timestamp column the reference requires
    * (`README:31`): epoch seconds of l_shipdate. Fixture timestamps are
    * TIMESTAMP_NTZ; session TZ is pinned UTC, so NTZ->TIMESTAMP->long equals
    * DuckDB's epoch() of the naive value. */
  private def li(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .withColumn("ts_epoch", col("l_shipdate").cast("timestamp").cast("long"))

  private val tie = Seq("l_orderkey", "l_linenumber")

  // ---- shared co-purchase edge CTE (SharedState "graph.edges") ----
  // q_triangle_count, q_label_prop and q_kcore all analyze the SAME
  // canonical co-purchase graph; re-deriving the basket groupBy + pair
  // expansion + co-count per lane tripled a multi-second build. Share the
  // edge frame per dir; q_triangle_count owns the build in the bench. At
  // real scale this is "edge list materialized once, read by every graph
  // job".
  def coPurchaseEdges(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedState.frame(s, "graph.edges", dir)(
      Graph.coOccurrenceEdges(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey"))

  // ---- shared embedding covariance (SharedState "vector.cov") ----
  // q_cov_matrix IS the covariance; q_pca_project eigendecomposes the same
  // matrix. The d²/2 moment aggregate is the entire cost of both lanes at
  // scale (the result is 2080 rows for d=64), so compute it once per dir:
  // q_cov_matrix owns the build in the bench.
  def embeddingCov(s: SparkSession, dir: String): DataFrame =
    graft.core.SharedState.frame(s, "vector.cov", dir)(
      VectorOps.covarianceMatrix(Tables.embeddings(s, dir), "embedding"))

  /** The (cust, supp) basket relation the CF lanes mine: suppliers as
    * items, customers as baskets. */
  private[graft] def cfBaskets(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = li(spark, "/root/testdata/sf0.001")
    Chunking.intervalsDistributed(
      Chunking.boundariesDistributed(d, "ts_epoch", tie, 100L, Start),
      "ts_epoch", Start)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.3 chunk planning (win_row_number + filt_mod + sort_global) ----
    "q_chunk_boundaries" -> ((s, dir) =>
      Chunking.boundaries(li(s, dir), "ts_epoch", tie, ChunkSize, Start)),
    "q_chunk_boundaries_dist" -> ((s, dir) =>
      Chunking.boundariesDistributed(li(s, dir), "ts_epoch", tie, ChunkSize, Start)),
    // distributed interval zip — oracle identical to the parity form
    // adaptive zip: 121 boundaries at sf0.01 -> parity window; the
    // distributed-offsets form engages only past the cardinality threshold
    "q_chunk_intervals" -> ((s, dir) =>
      Chunking.intervalsAdaptive(
        Chunking.boundariesDistributed(li(s, dir), "ts_epoch", tie, ChunkSize, Start),
        "ts_epoch", Start)),

    // ---- §2.2 predicates / projections ----
    "q_range_halfopen" -> ((s, dir) =>
      RowOps.rangeHalfOpen(li(s, dir), "ts_epoch", lit(820454400L), lit(852076800L))
        .select(col("l_orderkey"), col("l_linenumber"), col("ts_epoch"))
        .orderBy("l_orderkey", "l_linenumber", "ts_epoch")),
    "q_pred_gt_proj" -> ((s, dir) =>
      RowOps.project(
        RowOps.greaterThan(li(s, dir), "ts_epoch", lit(Start)), Seq("ts_epoch"))
        .orderBy("ts_epoch")),
    "q_stringify" -> ((s, dir) =>
      RowOps.stringifyAll(
        li(s, dir).select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
        .orderBy(col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
          col("l_returnflag"), col("l_linestatus"))),
    "q_null_literal" -> ((s, dir) =>
      RowOps.dropNullLiterals(
        Tables.documents(s, dir).select("doc_id", "source", "lang"), Seq("source", "lang"))
        .orderBy("doc_id")),
    "q_cast_type_map" -> ((s, dir) =>
      HanaTypes.castTo(
        Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
        Seq("l_orderkey" -> "BIGINT", "l_linenumber" -> "INTEGER",
            "l_quantity" -> "DOUBLE", "l_returnflag" -> "NVARCHAR"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")),

    // ---- §2.1 sources / sinks ----
    // src_jdbc_partitioned through the oracle gate: fixture slice -> Derby
    // over JDBC -> chunk-predicated partitioned read-back, hash-matched
    // against DuckDB on the same parquet slice
    "q_jdbc_roundtrip" -> ((s, dir) => JdbcRoundtrip.roundtrip(s, dir)),
    "q_inline_chunks" -> ((s, _) =>
      Tables.inline(s, Seq(s"$Start,820454400", "820454400,852076800",
          s"852076800,${GraftConfig.Sentinel}"))
        .select(
          split(col("value"), ",").getItem(0).cast("long").as("lo"),
          split(col("value"), ",").getItem(1).cast("long").as("hi"))
        .orderBy("lo")),
    "q_append_sink" -> ((s, dir) => {
      val out = s"/tmp/graft_sink_roundtrip"
      val src = Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_returnflag")
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(out), true)
      AppendSink.appendParquet(src, out)
      AppendSink.readBack(s, out)
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag")
    }),
    // ext_sink_idempotent through the oracle gate: two committed batches,
    // one exact REPLAY of batch 0 (must be a no-op, or the hash doubles
    // those rows) and one CRASHED batch 2 (data dir, no commit marker —
    // must be invisible to the committed view)
    "q_sink_committed_view" -> ((s, dir) => {
      val out = "/tmp/graft_sink_committed"
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(out), true)
      val src = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_returnflag")
      def slice(r: Int) = src.filter(pmod(col("l_orderkey"), lit(3)) === r)
      AppendSink.appendIdempotent(slice(0), out, 0L)
      AppendSink.appendIdempotent(slice(1), out, 1L)
      AppendSink.appendIdempotent(slice(0), out, 0L) // at-least-once replay
      slice(2).write.mode("overwrite")
        .parquet(s"$out/__batch_id=2")               // crash before marker
      AppendSink.readCommitted(s, out)
        .orderBy("l_orderkey", "l_linenumber", "l_returnflag")
    }),

    // JSONL + CSV source lanes: write both text formats from the parquet
    // source, read back under explicit schemas (FAILFAST, line-splittable),
    // and prove byte-exact round-trip fidelity of longs/doubles/strings by
    // aggregating each side against the parquet original
    "q_text_sources" -> ((s, dir) => {
      import org.apache.hadoop.fs.{FileSystem, Path}
      val src = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
      val jdir = "/tmp/graft_src_jsonl"; val cdir = "/tmp/graft_src_csv"
      fs.delete(new Path(jdir), true); fs.delete(new Path(cdir), true)
      src.write.json(jdir)
      src.write.option("header", "true").csv(cdir)
      val j = TextSources.readJsonLines(s, jdir, src.schema)
      val c = TextSources.readCsv(s, cdir, src.schema)
      def agg(df: DataFrame, tag: String) = df.groupBy("l_returnflag").agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as(s"${tag}_qty"),
        count(lit(1)).as(s"${tag}_n"))
      agg(j, "json").join(agg(c, "csv"), "l_returnflag")
        .orderBy("l_returnflag")
    }),

    // ---- §2.5 relational algebra (absent in ref, table stakes here) ----
    "q1_pricing_summary"   -> ((s, dir) => Relational.pricingSummary(s, dir)),
    "q7_volume_shipping"   -> ((s, dir) => Relational.volumeShipping(s, dir)),
    "q10_returned_items"   -> ((s, dir) => Relational.returnedItemRevenue(s, dir)),
    "q14_promo_revenue"    -> ((s, dir) => Relational.promoRevenue(s, dir)),
    "q19_disjunctive"      -> ((s, dir) => Relational.disjunctiveRevenue(s, dir)),
    "q12_priority_shipping" -> ((s, dir) => Relational.priorityShipping(s, dir)),
    "q18_large_orders"     -> ((s, dir) => Relational.largeOrders(s, dir)),
    "q4_order_priority"    -> ((s, dir) => Relational.orderPriorityCheck(s, dir)),
    "q6_forecast_revenue"  -> ((s, dir) => Relational.forecastRevenue(s, dir)),
    "q8_market_share"      -> ((s, dir) => Relational.marketShare(s, dir)),
    "q13_cust_distribution" -> ((s, dir) => Relational.custOrderDistribution(s, dir)),
    "q15_top_supplier"     -> ((s, dir) => Relational.topSupplier(s, dir)),
    "q17_small_qty_revenue" -> ((s, dir) => Relational.smallQtyRevenue(s, dir)),
    "q21_waiting_suppliers" -> ((s, dir) => Relational.waitingSuppliers(s, dir)),
    "q22_sales_opportunity" -> ((s, dir) => Relational.salesOpportunity(s, dir)),
    "q2_min_cost_supplier"  -> ((s, dir) => Relational.minCostSupplier(s, dir)),
    "q9_product_profit"     -> ((s, dir) => Relational.productProfit(s, dir)),
    "q11_important_parts"   -> ((s, dir) => Relational.importantParts(s, dir)),
    "q16_supplier_count"    -> ((s, dir) => Relational.supplierCountByPart(s, dir)),
    "q20_promotion_suppliers" -> ((s, dir) => Relational.promotionSuppliers(s, dir)),
    "q3_shipping_priority" -> ((s, dir) => Relational.shippingPriority(s, dir)),
    "q5_local_supplier"    -> ((s, dir) => Relational.localSupplierVolume(s, dir)),
    "q_topk_per_group"     -> ((s, dir) => Relational.topKPerGroup(s, dir)),
    "q_topk_agg"           -> ((s, dir) => Relational.topKPerGroupAgg(s, dir)),
    "q_window_battery"     -> ((s, dir) => Relational.windowBattery(s, dir)),
    "q_outer_join"         -> ((s, dir) => Relational.outerJoinAgg(s, dir)),
    "q_full_outer"         -> ((s, dir) => Relational.fullOuterDaily(s, dir)),
    "q_unpivot"            -> ((s, dir) => Relational.unpivotMetrics(s, dir)),
    "q_string_agg"         -> ((s, dir) => Relational.stringAgg(s, dir)),
    "q_setops"             -> ((s, dir) => Relational.setOps(s, dir)),
    "q_semi_anti"          -> ((s, dir) => Relational.semiAnti(s, dir)),
    "q_subqueries"         -> ((s, dir) => Relational.subqueryBattery(s, dir)),
    "q_distinct_agg"       -> ((s, dir) => Relational.distinctAgg(s, dir)),
    "q_rollup"             -> ((s, dir) => Relational.rollupCounts(s, dir)),
    "q_cube"               -> ((s, dir) => Relational.cubeCounts(s, dir)),
    "q_grouping_sets"      -> ((s, dir) => Relational.groupingSets(s, dir)),
    "q_pivot"              -> ((s, dir) => Relational.pivotByStatus(s, dir)),
    "q_quantiles"          -> ((s, dir) => Relational.quantiles(s, dir)),
    "q_histogram"          -> ((s, dir) => Relational.priceHistogram(s, dir)),
    // exact form for the bit-reproducible oracle; the approx-default path is
    // oracle-checked by the rank-bound booleans of q_winsorize_approx
    "q_winsorize"          -> ((s, dir) => Relational.winsorizedStats(s, dir, exact = true)),
    "q_winsorize_approx"   -> ((s, dir) => Relational.winsorizeApproxVerdict(s, dir)),
    "q_winsorize_grouped"  -> ((s, dir) => Relational.groupWinsorizedStats(s, dir, exact = true)),
    "q_session_window"     -> ((s, dir) => JsonOps.sessionWindows(Tables.events(s, dir))),
    "q_zscore" -> ((s, dir) =>
      Relational.groupZScore(
          Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
          "lang", "n_chars")
        .select("doc_id", "lang", "n_chars", "z")
        .orderBy("doc_id")),
    "q_corr_manual"        -> ((s, dir) => Relational.corrManual(s, dir)),
    "q_zscore_robust" -> ((s, dir) =>
      Relational.groupRobustZ(
          Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
          "lang", "n_chars")
        .select("doc_id", "lang", "n_chars", "rz")
        .orderBy("doc_id")),
    // merged HLL sketches vs exact distincts: sketch values aren't
    // engine-reproducible, so the checkable output is exact counts + the
    // published-error-bound booleans (the approxSketches pattern)
    "q_incremental_distinct" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val merged = Merge.incrementalDistinct(
        Merge.distinctSnapshot(ev.filter(col("event_id") <= 700),
          Seq("event_type"), "user_id"),
        ev.filter(col("event_id") > 700), Seq("event_type"), "user_id")
      val exact = ev.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("n_distinct_est") - col("n_exact").cast("double"))
            <= lit(0.05) * col("n_exact").cast("double")).as("within_rsd"))
        .orderBy("event_type")
    }),
    // day-N snapshot + day-N delta -> day-N+1 snapshot with NO history
    // rescan; the oracle recomputes from scratch, proving equivalence
    "q_incremental_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts_sec", col("ts").cast("timestamp").cast("long"))
      val snap = Merge.aggSnapshot(
        ev.filter(col("event_id") <= 700), Seq("user_id", "event_type"),
        "value", "ts_sec")
      Merge.incrementalAgg(snap, ev.filter(col("event_id") > 700),
          Seq("user_id", "event_type"), "value", "ts_sec")
        .select(col("user_id"), col("event_type"), col("n"),
          col("sum_v").cast("double").as("sum_v"), col("min_v"), col("max_v"))
        .orderBy("user_id", "event_type")
    }),

    // ---- extension: snapshot diff (added/removed/changed between runs) ----
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val newSnap = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(3)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      Merge.snapshotDiff(oldSnap, newSnap, "doc_id", md5(col("text")))
        .orderBy("doc_id")
    }),

    // sketch-estimated content overlap between two corpora: estimates are
    // Spark-sketch-specific, so the checkable output is exact counts (also
    // computed here) + error-bound booleans (the approxSketches pattern)
    // KMV twin of the corpus-overlap lane: same split, same 8-gram items,
    // but the ESTIMATES hash-match the oracle (md5 order statistics + IEEE
    // division are engine-exact, unlike HLL register state)
    "q_kmv_overlap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def grams(df: org.apache.spark.sql.DataFrame) =
        df.select(explode(TextAnalysis.wordGrams(col("text"), 8)).as("item"))
      Merge.kmvOverlap(
        grams(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)),
        grams(docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)))
    }),
    // single-side KMV sketch builder (order statistics + estimate
    // hash-match; the streaming twin accumulates to this exact sketch)
    "q_kmv_sketch" -> ((s, dir) =>
      Merge.kmvSketch(Tables.documents(s, dir)
          .select(explode(TextAnalysis.wordGrams(col("text"), 8)).as("item")))
        .select(col("n_in_sketch"),
          element_at(col("kmv"), 1).as("kmv_min"),
          element_at(col("kmv"), size(col("kmv"))).as("kmv_kth"),
          col("d_est"))),
    // mergeable bottom-k-by-hash quantile sketch + exact rank-space audit
    // (estimates AND error hash-match; merge = union-retake, spec-asserted)
    "q_quantile_sketch" -> ((s, dir) =>
      Merge.quantileSketch(Tables.orders(s, dir), k = 256,
        id = "o_orderkey", valueCol = "o_totalprice")),
    // sketch-state maintenance: three shard samples union, bottom-k
    // re-taken — provably the from-scratch sample, so the oracle runs
    // the from-scratch SQL (incremental ≡ from-scratch, like line dedup)
    "q_quantile_sketch_merge" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val shardStates = (0 to 2).map(m =>
        Merge.quantileSample(
          orders.filter(pmod(col("o_orderkey"), lit(3)) === m),
          k = 256, id = "o_orderkey", valueCol = "o_totalprice"))
      val merged = Merge.quantileSample(
        shardStates.reduce(_ unionByName _), k = 256, id = "sid",
        valueCol = "sv")
      Merge.quantileSketchFromSample(orders, merged, "o_totalprice",
        Seq(0.1, 0.25, 0.5, 0.75, 0.9))
    }),
    // per-source length-distribution sketches: the curation dashboard grain
    "q_quantile_by_group" -> ((s, dir) =>
      Merge.quantileSketchByGroup(Tables.documents(s, dir), k = 64,
        group = "source", id = "doc_id", valueCol = "n_chars")),
    "q_corpus_overlap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val a = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val b = docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
      def grams(df: org.apache.spark.sql.DataFrame) =
        df.select(explode(TextAnalysis.wordGrams(col("text"), 8)).as("g")).distinct()
      val exact = grams(a).withColumn("__ina", lit(1))
        .join(grams(b).withColumn("__inb", lit(1)), Seq("g"), "full_outer")
        .agg(sum(col("__ina")).as("n_a"), sum(col("__inb")).as("n_b"),
             count(lit(1)).as("n_union"),
             sum(when(col("__ina").isNotNull && col("__inb").isNotNull, 1L)
               .otherwise(0L)).as("n_overlap"))
      Merge.corpusOverlap(a, b).crossJoin(exact)
        .select(col("n_a"), col("n_b"), col("n_union"), col("n_overlap"),
          (abs(col("n_a_est") - col("n_a")) <= lit(0.05) * col("n_a")).as("ok_a"),
          (abs(col("n_b_est") - col("n_b")) <= lit(0.05) * col("n_b")).as("ok_b"),
          (abs(col("n_union_est") - col("n_union"))
            <= lit(0.05) * col("n_union")).as("ok_union"),
          (abs(col("n_overlap_est") - col("n_overlap"))
            <= lit(0.08) * col("n_union")).as("ok_overlap"))
    }),

    // ---- extension: bloom-pruned equi-join (probe filtered pre-shuffle) ----
    "q_bloom_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ords = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      BloomJoin.pruned(li, ords, "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_li"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("o_orderstatus")
    }),
    // sketch values aren't DuckDB-reproducible, so the output is exact columns
    // + boolean accuracy verdicts of the live sketch (oracle-checkable; the
    // booleans flip red if the sketch degrades). Accuracy bounds also
    // unit-tested in RelationalSketchSpec.
    "q_approx_sketch"      -> ((s, dir) => Relational.approxSketches(s, dir)),

    // ---- extension: text analysis (ext_text_*) ----
    "q_text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir)).orderBy("doc_id")),
    "q_text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir)).orderBy("doc_id")),
    "q_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir)).orderBy("doc_id")),
    // model-based quality gate: hashed-linear classifier inference, the
    // zero-shuffle map-literal form (parity with the broadcast-join form is
    // spec-asserted)
    "q_classifier_score" -> ((s, dir) =>
      Classifier.score(Tables.documents(s, dir))),
    "q_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir)).orderBy("doc_id")),

    // ---- extension: events / JSON (ext_json_props, ext_window_events) ----
    "q_json_props" -> ((s, dir) =>
      JsonOps.extractProps(Tables.events(s, dir)).orderBy("event_id")),
    "q_window_events" -> ((s, dir) =>
      JsonOps.windowedCounts(Tables.events(s, dir))),
    "q_window_sliding" -> ((s, dir) =>
      JsonOps.slidingCounts(Tables.events(s, dir))),
    "q_sessionize" -> ((s, dir) =>
      JsonOps.sessionize(Tables.events(s, dir))),
    // boundary-sweep max simultaneous sessions per day (carry-in offsets)
    "q_peak_concurrency" -> ((s, dir) =>
      JsonOps.peakConcurrency(Tables.events(s, dir))),
    "q_funnel" -> ((s, dir) =>
      Funnel.conversionFunnel(Tables.events(s, dir))),
    "q_cohort_retention" -> ((s, dir) =>
      Funnel.cohortRetention(Tables.events(s, dir))),
    // OLS slope of daily volume per type — exact integer moments
    "q_trend_report" -> ((s, dir) =>
      Funnel.volumeTrend(Tables.events(s, dir))),
    // Markov transition matrix over per-user event sequences
    "q_transition_matrix" -> ((s, dir) =>
      Funnel.transitionMatrix(Tables.events(s, dir))),
    // exact alpha=1/2 EWMA via integer closed form (no libm pow)
    "q_ewma_daily" -> ((s, dir) =>
      Funnel.ewmaDaily(Tables.events(s, dir))),
    // rolling 7-day distinct users per day (exact WAU curve)
    "q_rolling_wau" -> ((s, dir) =>
      Funnel.rollingDistinctUsers(Tables.events(s, dir))),
    // Benford first-digit audit of order totals (chi-square terms)
    "q_benford_audit" -> ((s, dir) =>
      Validate.benfordAudit(Tables.orders(s, dir), "o_totalprice")),
    // Spearman rank correlation (tie-corrected, integer moments)
    "q_spearman" -> ((s, dir) => Relational.spearmanCorr(s, dir)),
    // term -> df + capped sorted posting list (search/audit index build)
    "q_inverted_index" -> ((s, dir) =>
      TfIdf.invertedIndex(Tables.documents(s, dir))),
    // fill-in-the-middle: content-addressed PSM reordering of half the docs
    "q_fim_transform" -> ((s, dir) =>
      Packing.fimTransform(Tables.documents(s, dir))),
    // two-proportion z-test between hash-parity arms
    "q_ab_test" -> ((s, dir) =>
      Funnel.abTest(Tables.events(s, dir))),

    // ---- extension: exact dedup (ext_dedup_exact) ----
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactText(Tables.documents(s, dir))),
    "q_dedup_events" -> ((s, dir) =>
      Dedup.eventsKeepEarliest(Tables.events(s, dir))),
    // substring-level lane: repeated 16-token windows merged to per-doc spans
    "q_dedup_passage" -> ((s, dir) =>
      Dedup.duplicatedPassages(Tables.documents(s, dir))),
    // the actionable form: spans cut out of the token stream, all docs kept
    "q_dedup_scrub" -> ((s, dir) =>
      Dedup.scrubDuplicatedPassages(Tables.documents(s, dir))),
    // scrub -> drop emptied docs -> repack survivors to token budgets: the
    // detect/cut/batch composition a substring-dedup stage actually ships
    "q_scrub_pack" -> ((s, dir) => {
      val kept = Dedup.scrubDuplicatedPassages(Tables.documents(s, dir))
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("n_kept").as("n_tokens"))
      Packing.packCounts(kept)
    }),
    // fuzzy companion to q_dedup_incremental: batch survivors vs history by
    // NEAR-duplication (batch = doc_id % 5 == 0, history = the rest)
    "q_dedup_nearhist" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      NearDup.nearDupSurvivorsVsHistory(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))
        .select("doc_id").orderBy("doc_id")
    }),

    // ---- extension: stream-capable interval (attribution) join, batch form ----
    "q_attribution" -> ((s, dir) =>
      graft.streaming.StreamingOps.attributionJoin(Tables.events(s, dir))
        .select(col("click_id"), col("view_id"), col("user_id"),
          col("click_ts").cast("timestamp").cast("long").as("click_sec"),
          col("view_ts").cast("timestamp").cast("long").as("view_sec"))
        .orderBy("click_id", "view_id")),

    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val fp = md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
      // doc_ids 251..300 sit in both slices: their fingerprints are in the
      // history, so the batch rows re-presenting them must drop
      val history = docs.filter(col("doc_id") <= 300).withColumn("fp", fp)
      val batch = docs.filter(col("doc_id") > 250).withColumn("fp", fp)
      Dedup.newAgainstHistory(batch, history, "fp")
        .select("doc_id").orderBy("doc_id")
    }),

    // ---- extension: near-dup dedup (ext_dedup_near) ----
    "q_dedup_minhash" -> ((s, dir) =>
      NearDup.minhashPairs(Tables.documents(s, dir), 0.5)),
    "q_dedup_minhash_auto" -> ((s, dir) =>
      NearDup.minhashPairsAuto(Tables.documents(s, dir), 0.5)),
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(NearDup.minhashPairs(Tables.documents(s, dir), 0.5))),
    "q_dedup_survivors" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.clusterSurvivors(docs.select("doc_id"),
          NearDup.minhashPairs(docs, 0.5))
        .orderBy("doc_id")
    }),
    // quality-policy survivors: keep the LONGEST member of each cluster
    "q_dedup_survivors_quality" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.clusterSurvivorsBy(docs.select("doc_id", "n_chars"),
          NearDup.minhashPairs(docs, 0.5), col("n_chars"))
        .orderBy("doc_id")
    }),
    // nonparametric two-sample rank test: en vs de document lengths
    "q_mannwhitney" -> ((s, dir) =>
      Relational.mannWhitney(Tables.documents(s, dir), "lang", "n_chars",
        "en", "de")),
    // distribution-drift twin of the rank test: two-sample KS on the same
    // pair of samples (ext_ks_test)
    "q_ks_test" -> ((s, dir) =>
      Relational.ksTest(Tables.documents(s, dir), "lang", "n_chars",
        "en", "de")),
    // SOFT dedup (ext_dedup_soft): 1/cluster-size training weights instead
    // of removal — the same closure the survivor lanes use
    "q_dedup_soft" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.softDedupWeights(docs, NearDup.minhashPairs(docs, 0.5))
    }),
    // line-grain boilerplate removal (ext_line_dedup): corpus-frequent
    // 2-word lines cut, docs reconstructed; plus the boilerplate-head report
    "q_line_dedup" -> ((s, dir) =>
      LineDedup.scrub(Tables.documents(s, dir), 2, 20)),
    "q_line_dedup_lines" -> ((s, dir) =>
      LineDedup.boilerplateLines(Tables.documents(s, dir), 2, 20)
        .select("line", "doc_freq", "n_docs", "doc_share")
        .orderBy(col("doc_freq").desc, col("line"))),
    // incremental ingest: the 20% batch (doc_id % 5 == 4) scrubbed against
    // merged history+batch line frequencies — history docs never rescan
    "q_line_dedup_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hist = docs.filter(col("doc_id") % 5 =!= 4)
      val batch = docs.filter(col("doc_id") % 5 === 4)
      LineDedup.scrubIncremental(
        LineDedup.docFreq(hist, 2),
        hist.agg(count(lit(1)).as("n_docs")),
        batch, 2, 20)
    }),
    "q_dedup_jaccard" -> ((s, dir) =>
      NearDup.jaccardJoin(Tables.documents(s, dir), 0.5)),
    "q_containment" -> ((s, dir) =>
      NearDup.containmentJoin(Tables.documents(s, dir), 0.8)),
    "q_simhash" -> ((s, dir) =>
      NearDup.simhash(Tables.documents(s, dir)).orderBy("doc_id")),
    "q_dedup_simhash" -> ((s, dir) =>
      NearDup.simhashPairs(Tables.documents(s, dir), 3)),
    // blocking+verify record linkage: simhash candidates confirmed by
    // token-level Levenshtein within 30% of the longer side
    "q_dedup_editdist" -> ((s, dir) =>
      NearDup.editDistancePairs(Tables.documents(s, dir),
        memoKey = Some(dir))),
    // pairs -> connected components -> keep cluster minimum: the actionable
    // dedup built on the edit-distance evidence (same CC machinery as
    // q_dedup_survivors, different pair source)
    "q_dedup_editdist_survivors" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.clusterSurvivors(docs.select("doc_id"),
          NearDup.editDistancePairs(docs, memoKey = Some(dir))
            .select("a_id", "b_id"))
        .orderBy("doc_id")
    }),

    // ---- extension: similarity search (ext_topk_similarity) ----
    "q_sim_topk_brute" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir))),
    "q_sim_topk_lsh" -> ((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir))),
    // sketch width derived from the corpus count (bits = ceil(log2(n/16)))
    "q_sim_topk_lsh_auto" -> ((s, dir) =>
      Similarity.lshTopKAuto(Tables.embeddings(s, dir))),
    "q_dedup_embcos" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), 0.4)),
    // SemDeDup lane: k-means-cell blocking instead of LSH-bucket blocking
    "q_dedup_semantic" -> ((s, dir) =>
      Similarity.semanticNearDupPairs(Tables.embeddings(s, dir), 0.4,
        coarseMemoKey = Some(dir))),
    "q_sim_topk_ivf" -> ((s, dir) =>
      IvfIndex.topK(Tables.embeddings(s, dir), memoKey = Some(dir))),
    "q_tfidf_topk" -> ((s, dir) =>
      TfIdf.topKSimilar(Tables.documents(s, dir))),
    // full BM25: rational idf + TF saturation + length normalization
    "q_bm25_topk" -> ((s, dir) =>
      TfIdf.bm25TopK(Tables.documents(s, dir))),
    // per-source vocabulary health: TTR, Gini-Simpson, effective types
    "q_lexical_diversity" -> ((s, dir) =>
      TextAnalysis.lexicalDiversity(Tables.documents(s, dir))),
    // contrastive-training data op: per-anchor top-k cross-label neighbors
    "q_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir))),
    "q_hard_negatives_ivf" -> ((s, dir) =>
      Similarity.hardNegativesIvf(Tables.embeddings(s, dir),
        coarseMemoKey = Some(dir))),
    // index-quality report: recall@k vs brute per probe depth, one training
    "q_ivf_recall_report" -> ((s, dir) =>
      IvfIndex.recallReport(Tables.embeddings(s, dir), memoKey = Some(dir))),
    // MMR diversified selection over each anchor's retrieval neighborhood
    "q_mmr_diverse" -> ((s, dir) =>
      Similarity.mmrSelect(Tables.embeddings(s, dir))),
    // CLIP-filter shape: cosine to own-label centroid, bottom-10 flagged
    "q_centroid_filter" -> ((s, dir) =>
      Similarity.centroidOutliers(Tables.embeddings(s, dir))),
    // 1-bit (sign) quantized first-stage retrieval + exact-cosine rerank
    "q_sim_topk_binary" -> ((s, dir) =>
      Similarity.binaryTopK(Tables.embeddings(s, dir))),
    // Matryoshka adaptive retrieval: 8-dim prefix rank, full-vector rerank
    "q_sim_topk_mrl" -> ((s, dir) =>
      Similarity.mrlTopK(Tables.embeddings(s, dir))),
    // ColBERT-style late interaction: pooled-cosine recall stage, MaxSim
    // (sum of per-sub-vector max cosines) precision rerank
    "q_sim_maxsim" -> ((s, dir) =>
      Similarity.maxSimTopK(Tables.embeddings(s, dir))),
    // int8 scalar-quantization coarse rank (exact integer dots,
    // bounded-heap selection) + exact-cosine rerank
    "q_sim_topk_sq" -> ((s, dir) =>
      Similarity.sqTopK(Tables.embeddings(s, dir))),
    // retrieval-quality metrics (precision/recall@k, MRR) vs same-label
    // relevance — rational arithmetic only, engine-exact
    "q_retrieval_eval" -> ((s, dir) =>
      Similarity.retrievalEval(Tables.embeddings(s, dir))),
    // hybrid lexical+dense retrieval fused by reciprocal rank
    "q_hybrid_rrf" -> ((s, dir) =>
      Similarity.rrfFusion(Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // Gopher-style rule bundle with first-failing-rule attribution
    "q_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(Tables.documents(s, dir))),
    // PMI collocation mining: ln-free lift, min-count floor, top-30
    "q_collocations" -> ((s, dir) =>
      TextAnalysis.collocations(Tables.documents(s, dir))),
    // phrase-blocklist scrub with first-match attribution (word-boundary)
    "q_blocklist_filter" -> ((s, dir) =>
      TextAnalysis.blocklistFilter(Tables.documents(s, dir),
        Seq("slow join", "fast scan", "merge batch part", "purple elephant"))
        .orderBy("doc_id")),

    // ---- extension: as-of join (time-series point-in-time lookup) ----
    "q_asof_join" -> ((s, dir) =>
      AsofJoin.eventsToLatestOrder(Tables.events(s, dir), Tables.orders(s, dir))),

    // ---- extension: incremental merge/upsert (target snapshot + batch) ----
    "q_merge_upsert" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Merge.upsertLatest(
          ev.filter(col("event_id") <= 700), ev.filter(col("event_id") > 700),
          Seq("user_id", "event_type"), col("ts"), Seq(col("event_id")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("timestamp").cast("long").as("ts_sec"), col("value"))
        .orderBy("user_id", "event_type")
    }),
    "q_merge_replace" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      Merge.upsertReplace(
          ev.filter(col("event_id") <= 700), ev.filter(col("event_id") > 700),
          Seq("user_id", "event_type"), col("ts"), Seq(col("event_id")))
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")
    }),
    "q_scd2" -> ((s, dir) =>
      Merge.scd2History(Tables.events(s, dir),
          Seq("user_id", "event_type"), col("ts"), Seq(col("event_id")))
        .select("user_id", "event_type", "event_id",
          "valid_from", "valid_to", "is_current")
        .orderBy("user_id", "event_type", "valid_from", "event_id")),
    // time travel: reconstruct each key's live version at a probe instant
    "q_scd2_asof" -> ((s, dir) =>
      Merge.scd2AsOf(
          Merge.scd2History(Tables.events(s, dir),
            Seq("user_id", "event_type"), col("ts"), Seq(col("event_id"))),
          asOfEpoch = 1705276800L) // 2024-01-15 00:00:00 UTC, mid-fixture
        .select("user_id", "event_type", "event_id", "valid_from", "valid_to")
        .orderBy("user_id", "event_type", "event_id")),
    // CDC maintenance with deletions: signed count/sum folds, keys whose
    // live count hits 0 leave the snapshot
    "q_incremental_agg_retract" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val base = ev.filter(col("event_id") <= 700).withColumn("op", lit(1))
      val snap = Merge.retractSnapshot(base, Seq("user_id", "event_type"), "value")
      val delta = ev.filter(col("event_id") > 700).withColumn("op", lit(1))
        .unionByName(base.filter(col("event_id") % 10 === 0)
          .withColumn("op", lit(-1)))
      Merge.incrementalAggRetract(snap, delta, Seq("user_id", "event_type"), "value")
        .select(col("user_id"), col("event_type"), col("n"),
          col("sum_v").cast("double").as("sum_v"))
        .orderBy("user_id", "event_type")
    }),

    // ---- extension: binned range join (equi-join on bucket, no BNLJ) ----
    "q_range_join" -> ((s, dir) =>
      RangeJoin.eventsToSessions(Tables.events(s, dir))),

    // ---- extension: data-quality validation report ----
    "q_validate" -> ((s, dir) => Validate.report(s, dir)),
    "q_k_anonymize" -> ((s, dir) =>
      Validate.kAnonymize(Tables.customer(s, dir), "c_nationkey", "c_mktsegment")),
    // l-diversity audit over the same quasi-identifiers: sensitive attr =
    // order priority of the customer's orders (class size AND value spread)
    "q_l_diversity" -> ((s, dir) =>
      Validate.lDiversity(
        Tables.customer(s, dir).join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey")),
        "c_nationkey", "c_mktsegment", "o_orderpriority", k = 100L, l = 3L)),
    // deterministic Poisson-bootstrap CI for mean document length: one
    // map-side fan-out x64, B-row exchange, order-statistic bounds
    "q_bootstrap_ci" -> ((s, dir) =>
      Validate.bootstrapCI(Tables.documents(s, dir), "n_chars", "doc_id")),
    "q_corpus_report" -> ((s, dir) => Validate.corpusReport(s, dir)),
    // hottest shuffle keys + global skew factor — the pre-join diagnostic
    "q_skew_report" -> ((s, dir) =>
      Validate.skewReport(Tables.events(s, dir), "user_id")),
    // RefinedWeb-style domain-level keep/drop verdicts with first-failing
    // rule attribution (integer cross-multiplied thresholds)
    "q_domain_report" -> ((s, dir) =>
      Validate.domainReport(Tables.documents(s, dir))),
    // 100 TB twin: the per-domain dup count's second countDistinct pass
    // swapped for an HLL++ sketch in ONE aggregate; exact ground truth +
    // accuracy / verdict-agreement booleans are the oracle contract
    "q_domain_report_approx" -> ((s, dir) =>
      Validate.domainReportApprox(Tables.documents(s, dir))),
    // pre-join cardinality estimate: key-count join, data rows never meet
    "q_join_cardinality" -> ((s, dir) =>
      Validate.joinCardinality(Tables.events(s, dir),
        Tables.events(s, dir).filter(col("event_type") =!= "view"), "user_id")),
    // robust (median/MAD) outlier days per event type — the ingest-health
    // diagnostic; threshold 2.0 so the fixture's mild variation surfaces
    "q_event_anomaly" -> ((s, dir) =>
      Validate.rateAnomalies(Tables.events(s, dir), threshold = 2.0)),
    // subword-per-word fertility per language (tokenizer health metric)
    "q_fertility" -> ((s, dir) =>
      TextAnalysis.fertilityReport(Tables.documents(s, dir))),
    // per-doc keyword extraction: top-3 terms by tf x rational idf
    "q_keywords" -> ((s, dir) =>
      TfIdf.topTermsPerDoc(Tables.documents(s, dir))),
    // language-mix drift between a snapshot and its curated refresh (every
    // fifth doc dropped — a deterministic stand-in for a curation pass)
    "q_drift_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Validate.driftReport(docs,
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "lang")
    }),

    // ---- extension: deterministic content-addressed train/val/test split ----
    "q_train_split" -> ((s, dir) =>
      Splits.assign(Tables.documents(s, dir).select("doc_id"), "doc_id")
        .orderBy("doc_id")),
    // leakage-free variant: bucket by near-dup cluster representative so
    // duplicates never straddle train/test
    "q_cluster_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Splits.clusterAssign(docs.select("doc_id"),
          NearDup.minhashPairs(docs, 0.5), "doc_id")
        .orderBy("doc_id")
    }),

    // ---- extension: graph analytics (ext_graph) ----
    // a-priori frequent-pair mining over order baskets: frequent-item prune
    // BEFORE pair expansion, pairs generated map-side per basket
    "q_market_basket" -> ((s, dir) =>
      Graph.marketBasket(Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey")), "l_orderkey", "l_partkey")),
    // content-addressed negative sampling for contrastive/recsys training:
    // hash-bucketed candidates, seen pairs anti-joined, bounded-heap top-k
    "q_neg_samples" -> ((s, dir) => {
      val inter = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("user_id"), col("l_partkey").as("item"))
      Graph.negativeSamples(inter,
          Tables.part(s, dir).select(col("p_partkey").as("item")),
          "user_id", "item")
        .orderBy("user_id", "rk")
    }),
    // integer-unit PageRank over the customer–supplier trading graph:
    // 3 power iterations, edges partitioned once, ranks-only shuffles
    "q_pagerank" -> ((s, dir) => {
      val e = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("C"), col("o_custkey").cast("string")).as("a"),
          concat(lit("S"), col("l_suppkey").cast("string")).as("b"))
      Graph.pageRank(e, "a", "b")
    }),
    // exact triangle census of the co-purchase graph (degree-oriented
    // wedges); OWNS the shared edge-CTE build in the bench
    "q_triangle_count" -> ((s, dir) =>
      Graph.triangleStats(coPurchaseEdges(s, dir), "item_a", "item_b")),
    // item-item collaborative filtering: suppliers similar by shared customers
    "q_cf_similarity" -> ((s, dir) =>
      Graph.itemSimilarity(cfBaskets(s, dir), "cust", "supp",
        memoKey = Some(dir))),
    // sequential-pattern mining: most-walked 3-step event-type paths
    "q_path_mining" -> ((s, dir) =>
      JsonOps.topEventPaths(Tables.events(s, dir))),
    // per-item "also bought" top-3 by cosine — itemSimilarity ranked per item
    "q_cf_recommend" -> ((s, dir) =>
      Graph.recommendations(cfBaskets(s, dir), "cust", "supp",
        memoKey = Some(dir))),
    // CUSUM upward-shift detector per event type, exact 1/n_days units
    "q_cusum_daily" -> ((s, dir) =>
      Funnel.cusumDaily(Tables.events(s, dir))),
    // STL-lite additive decomposition (ext_seasonal_decompose): trend /
    // day-of-week seasonal / residual, exact-integer numerators throughout
    "q_seasonal_decompose" -> ((s, dir) =>
      Funnel.seasonalDecompose(Tables.events(s, dir))),
    // per-day TV drift vs the first-week reference mix: cross-multiplied
    // decimal(38,0) terms, one double division per day — WHEN it drifted
    "q_drift_timeline" -> ((s, dir) =>
      Funnel.driftTimeline(Tables.events(s, dir))),
    // does signup follow click, and by how many days? Pearson r at each
    // lag from exact integer moment sums (corrManual discipline)
    "q_xcorr_daily" -> ((s, dir) =>
      Funnel.crossCorrelation(Tables.events(s, dir), "click", "signup")),
    // subgroup separability audit: per-source tie-corrected AUC of doc
    // length against English membership — 0.5 = no length bias
    "q_auc_subgroup" -> ((s, dir) =>
      Relational.aucByGroup(Tables.documents(s, dir), "source", "n_chars",
        col("lang") === "en")),
    // chunk->doc mean pooling in deterministic member order (the float
    // fold order IS the contract) — the long-document embedding recipe
    // oracle surface is the FLATTENED (doc, dim, val) grain — an array
    // output column is unsortable/unhashable at the comparison layer
    // (pandas lexsort over list cells throws); the flatten loses nothing:
    // every pooled double is still individually hash-checked
    "q_vec_pool" -> ((s, dir) =>
      VectorOps.meanPool(
          Tables.embeddings(s, dir)
            .withColumn("doc", pmod(col("vec_id"), lit(50L))),
          "doc", "vec_id")
        .select(col("doc"), col("n_members"),
          posexplode(col("pooled")).as(Seq("dim", "val")))
        .withColumn("dim", col("dim").cast("long"))
        .orderBy("doc", "dim")),
    // ORC format hop (ext_orc_roundtrip): same values through ORC bytes
    "q_orc_roundtrip" -> ((s, dir) =>
      graft.sources.OrcSource.roundtripAgg(s, dir)),
    // multi-batch schema evolution: widen INT/FLOAT, null-fill a late
    // column, drop a producer extra — value parity incl. float truncation
    "q_schema_drift" -> ((s, dir) =>
      graft.sources.SchemaDrift.roundtripAgg(s, dir)),
    // multi-pass blocking entity resolution over planted dirty copies:
    // +10M copies break the name but keep the email (linked by pass B);
    // +20M copies keep the name but break the email (linked by pass A);
    // custkey % 91 gets both copies -> a 3-record entity via closure
    "q_entity_resolution" -> ((s, dir) =>
      EntityResolution.resolve(erHistory(s, dir), "id",
          Seq(col("name"), col("email")))
        .orderBy("record_id")),
    // daily-ingest form: a new dirty batch resolves against FROZEN history
    // entities — +30M copies match history by email (name case-broken),
    // +40M copies match nothing directly (batch-minted email) but link
    // intra-batch to +30M via the shared broken name when custkey % 55 == 0
    "q_er_incremental" -> ((s, dir) => {
      val hist = erHistory(s, dir)
      val hEnt = EntityResolution.resolve(hist, "id",
        Seq(col("name"), col("email")))
      val c = Tables.customer(s, dir).select("c_custkey", "c_name")
      val b5 = c.filter(pmod(col("c_custkey"), lit(5)) === 0)
        .select((col("c_custkey") + lit(30000000L)).as("id"),
          upper(col("c_name")).as("name"),
          concat(lit("cust"), col("c_custkey").cast("string"), lit("@x.com")).as("email"))
      val b11 = c.filter(pmod(col("c_custkey"), lit(11)) === 0)
        .select((col("c_custkey") + lit(40000000L)).as("id"),
          upper(col("c_name")).as("name"),
          concat(lit("batch"), (col("c_custkey") + lit(40000000L)).cast("string"),
            lit("@x.com")).as("email"))
      EntityResolution.resolveIncremental(hist, hEnt, b5.unionAll(b11), "id",
          Seq(col("name"), col("email")))
        .orderBy("record_id")
    }),
    // deterministic label-propagation communities on the co-purchase graph
    // (shared memoized edge CTE — q_triangle_count owns the build)
    "q_label_prop" -> ((s, dir) =>
      Graph.labelPropagation(coPurchaseEdges(s, dir), "item_a", "item_b")),

    // ---- extension: deterministic sampling / per-group quotas ----
    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratified(Tables.documents(s, dir).select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 37), defaultPct = 83)
        .orderBy("doc_id")),
    "q_quota_cap" -> ((s, dir) =>
      Sampling.quotaCap(Tables.documents(s, dir).select("doc_id", "lang"),
        "lang", 30, Seq("doc_id"))
        .orderBy("doc_id")),
    "q_sample_weighted" -> ((s, dir) =>
      Sampling.weightedTopK(Tables.documents(s, dir).select("doc_id", "lang"),
        "doc_id", when(col("lang") === "en", 1).otherwise(4), 100)
        .orderBy("doc_id")),
    // 200-doc corpus at 50% en / 20% de / 30% fr; es+zh excluded (weight 0)
    "q_sample_mixture" -> ((s, dir) =>
      Sampling.mixture(Tables.documents(s, dir).select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.3), 200L)
        .orderBy("doc_id")),
    // token-denominated mixture: budgets in tokens, the unit recipes use
    "q_sample_mixture_tokens" -> ((s, dir) =>
      Sampling.mixtureByTokens(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"),
            size(split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")),
              " ")).cast("long").as("n_tokens")),
          "doc_id", "lang",
          "n_tokens", Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.3), 20000L)
        .orderBy("doc_id")),
    // stride-interleaved training order: strata spread uniformly through
    // the epoch (ordered output = the written training order)
    "q_interleave" -> ((s, dir) =>
      Sampling.strideInterleave(
          Tables.documents(s, dir).select("doc_id", "lang"), "doc_id", "lang")
        .orderBy("vtime", "lang", "rank_in_stratum")),
    // admission-funnel dashboard report: drops per stage
    "q_admission_report" -> ((s, dir) =>
      CurationPipeline.incrementalAdmission(s, dir)
        .groupBy("stage").agg(count(lit(1)).as("n_docs"))
        .orderBy("stage")),
    // alpha=0.5 temperature mixture: shares proportional to sqrt(count)
    "q_sample_alpha" -> ((s, dir) =>
      Sampling.alphaMixture(Tables.documents(s, dir).select("doc_id", "lang"),
        "doc_id", "lang", 200L)
        .orderBy("doc_id")),
    // Neyman (variance-optimal) allocation: quotas prop. to N_s * sigma_s
    "q_sample_neyman" -> ((s, dir) =>
      Sampling.neymanAllocation(
          Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
          "doc_id", "lang", "n_chars", 120L)
        .select("doc_id", "lang", "sel_rk", "stratum_n", "stratum_sigma")
        .orderBy("lang", "sel_rk")),
    // epoch-denominated UPSAMPLING: 2.5 epochs of en, 1.25 de, 1 fr,
    // 0.5 es, zh unmapped (dropped) — exercises whole+frac, frac-only, zero
    "q_sample_epochs" -> ((s, dir) =>
      Sampling.epochMixture(
          Tables.documents(s, dir).select("doc_id", "lang"),
          "doc_id", "lang",
          Map("en" -> 2.5, "de" -> 1.25, "fr" -> 1.0, "es" -> 0.5))
        .orderBy("doc_id", "copy")),
    // DSIR-style importance resampling: hashed-unigram bucket weights from
    // a target stratum (src0/src1), zero-exchange map-literal scoring,
    // deterministic top-150 (temperature-0 DSIR)
    "q_dsir_select" -> ((s, dir) =>
      Dsir.select(Tables.documents(s, dir),
        col("source").isin("src0", "src1"), 150)),
    // OPTIMIZE-style compaction plan: docs stand in for files (source =
    // partition dir, n_chars = bytes), 1000-byte target output files
    "q_compaction_plan" -> ((s, dir) =>
      Compaction.plan(
        Tables.documents(s, dir).select(col("source").as("part"),
          col("doc_id").as("file_id"), col("n_chars").as("bytes")),
        1000L)),
    // incremental placement of a new-file batch: history collapses to one
    // running total per dir, never re-windows (matches from-scratch when
    // new ids sort after history's — which the fixture split guarantees)
    "q_compaction_incr" -> ((s, dir) => {
      val f = Tables.documents(s, dir).select(col("source").as("part"),
        col("doc_id").as("file_id"), col("n_chars").as("bytes"))
      Compaction.assignIncremental(
          f.filter(col("file_id") < 250), f.filter(col("file_id") >= 250), 1000L)
        .orderBy("part", "file_id")
    }),

    // ---- extension: repetition ratio + PII scrub (text curation) ----
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(Tables.documents(s, dir)).orderBy("doc_id")),
    "q_redact_pii" -> ((s, dir) =>
      TextAnalysis.redactPii(Tables.documents(s, dir)).orderBy("doc_id")),
    // compressibility quality signal — zlib isn't SQL-reproducible, so
    // the approx-sketch pattern applies: exact byte accounting hash-
    // matches, and the live signal is gated by verdict booleans that flip
    // the hash red if compression ever degenerates (spec pins semantics)
    "q_compress_signal" -> ((s, dir) =>
      TextAnalysis.compressionSignal(Tables.documents(s, dir))
        .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_bytes").as("n_bytes"),
          (min("comp_ratio") > 0.0).as("ok_ratio_pos"),
          (max("comp_ratio") <= 1.1).as("ok_ratio_bounded"),
          (sum("comp_bytes") < sum("n_bytes")).as("ok_compresses"))
        .orderBy("source")),
    // Luhn-checked card detection over docs with planted valid/invalid
    // numbers (1-in-10 / 1-in-10) plus natural digit runs
    "q_pii_luhn" -> ((s, dir) =>
      TextAnalysis.luhnAudit(Tables.documents(s, dir)
          .withColumn("text", concat(col("text"),
            when(pmod(col("doc_id"), lit(10)) === 0,
              lit(" card 4539578763621486 ok"))
              .when(pmod(col("doc_id"), lit(10)) === 5,
                lit(" card 4539578763621487 bad"))
              .otherwise(lit("")))))
        .orderBy("doc_id")),
    "q_rare_tokens" -> ((s, dir) =>
      TextAnalysis.rareTokenRatio(Tables.documents(s, dir)).orderBy("doc_id")),
    // content-defined chunking: rolling-digest boundaries that RESYNC under
    // edits (vs q_doc_chunks' fixed-size split) — the chunk-dedup form
    "q_chunk_cdc" -> ((s, dir) =>
      ContentChunking.cdcChunks(Tables.documents(s, dir))),
    // the CDC payoff measured: re-chunk an edited corpus version (every
    // third doc loses its first token — the worst case for fixed chunking)
    // and count content-addressed chunk reuse against the original
    "q_chunk_cdc_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ")
      val edited = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
            array_join(slice(w, lit(2), greatest(size(w) - 1, lit(0))), " "))
          .otherwise(col("text")).as("text"))
      ContentChunking.chunkReuse(docs, edited)
    }),
    "q_doc_chunks" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, dir))
        .orderBy("doc_id", "chunk_idx")),
    "q_text_normalize" -> ((s, dir) =>
      TextAnalysis.normalizeText(Tables.documents(s, dir)).orderBy("doc_id")),
    "q_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(Tables.documents(s, dir))),
    "q_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(Tables.documents(s, dir))),
    // count-min sketch: per-token exact count vs sketch estimate (the
    // estimate is engine-exact — the oracle rebuilds the same sketch)
    "q_cms_accuracy" -> ((s, dir) =>
      TextAnalysis.cmsAccuracy(Tables.documents(s, dir))),
    // shared memoized train state: the trainer lane owns the loop build in
    // the bench; the apply lane reads the same state's final sequences
    "q_bpe_merges" -> ((s, dir) =>
      BpeTrainer.mergesShared(Tables.documents(s, dir), key = dir)),
    // apply half of the trainer: per-doc token counts under the learned
    // merges — the budgeting input packing/mixture consume
    "q_bpe_apply" -> ((s, dir) =>
      BpeTrainer.tokenizedShared(Tables.documents(s, dir), key = dir)),
    "q_seq_pack" -> ((s, dir) =>
      Packing.packSequences(Tables.documents(s, dir))),
    // padding-aware length-bucketed batching: per-bucket efficiency report
    // (assignment itself is spec-asserted == naive per-bucket row_number)
    "q_length_buckets" -> ((s, dir) =>
      Packing.lengthBucketReport(Tables.documents(s, dir))),
    // LPT token-balanced shard assignment: per-shard accounting
    "q_shard_tokens" -> ((s, dir) =>
      Packing.shardByTokens(Tables.documents(s, dir))),
    // URL canonicalization before URL-keyed dedup: host-grain report over
    // deterministically-synthesized messy URLs (case/ports/www/slashes/
    // tracking params/fragments) — raw vs canonical-distinct counts
    "q_url_canon" -> ((s, dir) =>
      UrlOps.hostReport(UrlOps.synthesizeUrls(Tables.documents(s, dir)))),
    "q_decontaminate" -> ((s, dir) =>
      TextAnalysis.decontaminate(Tables.documents(s, dir))),
    "q_decontaminate_fuzzy" -> ((s, dir) =>
      TextAnalysis.decontaminateNearDup(Tables.documents(s, dir))),
    // pair-level evidence: which benchmark doc leaked into which train doc
    "q_decon_attribution" -> ((s, dir) =>
      TextAnalysis.decontaminateAttribution(Tables.documents(s, dir))),
    // CCNet-style quality tiers; approx boundaries aren't engine-reproducible,
    // so the checkable output is size/ordering verdicts (approx pattern)
    // cross-domain calibration: score -> percent-rank within its source
    "q_quantile_norm" -> ((s, dir) =>
      TextAnalysis.quantileNormalize(Tables.documents(s, dir))),
    "q_quality_buckets" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val b = TextAnalysis.qualityBuckets(Tables.documents(s, dir))
      val agg = b.groupBy("bucket").agg(count(lit(1)).as("__n"),
        min("score").as("__min_s"), max("score").as("__max_s"))
      val w = Window.orderBy("bucket") // 3 rows — not a data-sized window
      agg
        .withColumn("ok_order",
          coalesce(col("__min_s") >= lag("__max_s", 1).over(w), lit(true)))
        .crossJoin(broadcast(b.agg(count(lit(1)).as("n_total"))))
        .select(col("bucket"), col("n_total"),
          (abs(col("__n") - col("n_total") / 3.0)
            <= lit(0.2) * col("n_total")).as("ok_size"),
          col("ok_order"))
        .orderBy("bucket")
    }),
    "q_lm_signal" -> ((s, dir) =>
      TextAnalysis.bigramFrequencySignal(Tables.documents(s, dir))),

    // ---- extension: skew-mitigated (salted) equi-join ----
    "q_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ords = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      SaltedJoin.salted(li, ords, Seq("l_orderkey"),
          saltBy = Seq("l_orderkey", "l_linenumber"), salts = 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_li"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    // ---- extension: embedding normalize/quantize ----
    "q_vec_quantize" -> ((s, dir) =>
      VectorOps.quantizeDigest(Tables.embeddings(s, dir)).orderBy("vec_id")),
    "q_vec_project" -> ((s, dir) =>
      VectorOps.projectDigest(Tables.embeddings(s, dir)).orderBy("vec_id")),
    // residual PQ: codes quantize v - coarse_centroid, the true IVF-PQ form
    "q_vec_rpq" -> ((s, dir) =>
      PqIndex.residualCodes(Tables.embeddings(s, dir), coarseMemoKey = Some(dir))),
    "q_vec_pq" -> ((s, dir) =>
      PqIndex.codes(Tables.embeddings(s, dir), memoKey = Some(dir))),
    // cluster-size histogram of the IVF assignment — the index-balance
    // check an ANN deployment monitors (a collapsed list = a hot probe)
    "q_vec_clusters" -> ((s, dir) =>
      IvfIndex.assignments(Tables.embeddings(s, dir), memoKey = Some(dir))
        .groupBy("list").agg(count(lit(1)).as("n"))
        .orderBy("list")),
    "q_vec_adc" -> ((s, dir) =>
      PqIndex.adcTopK(Tables.embeddings(s, dir), memoKey = Some(dir))),
    // the composed index: IVF list pruning in front of ADC code scoring —
    // the billion-scale ANN architecture (only probed lists are scored)
    "q_sim_topk_ivfpq" -> ((s, dir) =>
      PqIndex.ivfpqTopK(Tables.embeddings(s, dir), coarseMemoKey = Some(dir))),
    // FAISS IndexIVFPQ's actual query path: ADC over RESIDUAL codes with
    // per-(query, probed-list) lookup tables
    "q_sim_topk_ivfrpq" -> ((s, dir) =>
      PqIndex.ivfrpqTopK(Tables.embeddings(s, dir), coarseMemoKey = Some(dir))),
    // index maintenance: assign a new ingest batch under the FROZEN coarse
    // quantizer (history vec_id < 400 trains; the rest is the batch)
    "q_vec_assign_new" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      IvfIndex.assignNewBatch(
        emb.filter(col("vec_id") < 400),
        emb.filter(col("vec_id") >= 400))
    }),

    // ---- capstone: end-to-end training-data curation ----
    "q_curation" -> ((s, dir) => CurationPipeline.keptDocuments(s, dir)),
    "q_curation_v2" -> ((s, dir) => CurationPipeline.curatedCorpus(s, dir)),
    "q_curation_v3" -> ((s, dir) => CurationPipeline.trainingManifest(s, dir)),
    // v4: + duplicated-passage scrub within the surviving set before chunking
    "q_curation_v4" -> ((s, dir) =>
      CurationPipeline.trainingManifest(s, dir, scrubPassages = true)),
    // v5: + blocklist pre-gate at the scan and shard layout at the sink
    "q_curation_v5" -> ((s, dir) =>
      CurationPipeline.trainingManifestV5(s, dir)),
    // v6: the EXPORT pipeline — canonical-URL dedup, Luhn privacy gate,
    // corpus-frequency line scrub, padding-aware batches dealt to shards
    "q_curation_v6" -> ((s, dir) =>
      CurationPipeline.exportManifestV6(s, dir)),
    // incremental admission funnel: gate the new batch against curated
    // history (history read, never shuffled) with first-failing-stage
    // attribution per document
    "q_curation_incr" -> ((s, dir) =>
      CurationPipeline.incrementalAdmission(s, dir)),

    // ---- capstone: the reference's entire pipeline composed end-to-end ----
    "q_ref_pipeline" -> ((s, dir) =>
      RefPipeline.run(s, dir, cfg, "/tmp/graft_ref_pipeline_sink")),
    // DB-backed twin: introspect -> chunk plan -> partitioned JDBC read ->
    // stringify -> null-literal -> append, all against live embedded Derby
    "q_ref_loop_db" -> ((s, dir) =>
      graft.sources.RefLoopDb.run(s, dir, Start)),

    // ---- scalar function batteries + intersect ----
    "q_scalar_strings" -> ((s, dir) => Scalars.stringBattery(s, dir)),
    "q_scalar_dates"   -> ((s, dir) => Scalars.dateBattery(s, dir)),
    "q_scalar_arrays"  -> ((s, dir) => Scalars.arrayBattery(s, dir)),
    "q_intersect"      -> ((s, dir) => Scalars.intersectOp(s, dir)),

    // ---- extension: time-series resample + forward fill ----
    "q_resample_ffill" -> ((s, dir) =>
      Resample.ffill(Tables.events(s, dir))),
    "q_resample_interp" -> ((s, dir) =>
      Resample.interpolate(Tables.events(s, dir))),
    "q_window_rolling" -> ((s, dir) =>
      JsonOps.rollingWindow(Tables.events(s, dir))),

    // ---- extension: multimodal binary columns (ext_multimodal) ----
    "q_mm_metadata" -> ((s, dir) =>
      Multimodal.asBinary(Tables.documents(s, dir))
        .select("doc_id", "n_bytes", "magic", "content_type")
        .orderBy("doc_id")),
    "q_mm_decode" -> ((s, dir) =>
      Multimodal.mediaFeatures(Tables.documents(s, dir))),
    "q_mm_frames" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.asBinary(Tables.documents(s, dir)))
        .select("doc_id", "n_frames")
        .orderBy("doc_id")),
    "q_mm_resize" -> ((s, dir) =>
      Multimodal.resizeDims(Multimodal.mediaFeatures(Tables.documents(s, dir)))
        .select("doc_id", "width", "height", "out_width", "out_height", "out_pixels")
        .orderBy("doc_id")),
    // perceptual image dedup (ext_image_phash): real PNG pixel roundtrip
    // (Deflater encode, Inflater + 5-filter unfilter decode) -> 8x8
    // average-hash -> exact groups + banded Hamming pairs
    "q_mm_phash" -> ((s, dir) =>
      ImagePhash.phashTable(Tables.documents(s, dir))),
    "q_mm_phash_dedup" -> ((s, dir) =>
      ImagePhash.exactGroups(ImagePhash.phashTable(Tables.documents(s, dir)))),
    "q_mm_phash_pairs" -> ((s, dir) =>
      ImagePhash.nearPairs(ImagePhash.phashTable(Tables.documents(s, dir)))),
    // audio fingerprint (ext_audio_fp): real 16-bit PCM WAV roundtrip ->
    // 32-frame energy hash (the engine-portable Chromaprint core)
    "q_mm_audio_fp" -> ((s, dir) =>
      AudioFingerprint.fingerprintTable(Tables.documents(s, dir))),
    // audio lane: synthesize bit-correct WAV containers, RIFF-walk them back
    // video modality: synthesize valid minimal MP4 (ftyp/moov[mvhd]/mdat),
    // box-walk it back partition-wise
    "q_mm_video" -> ((s, dir) =>
      Multimodal.videoFeatures(Tables.documents(s, dir))),
    "q_mm_audio" -> ((s, dir) =>
      Multimodal.audioFeatures(Tables.documents(s, dir))),

    // ---- extension: Z-order (Morton) clustering layout ----
    // deterministic locality report: equi-width zkey buckets with per-column
    // min/max — tight per-bucket ranges on BOTH columns are the pruning win
    "q_zorder_layout" -> ((s, dir) =>
      ZOrder.clusteringReport(Tables.lineitem(s, dir),
        Seq("l_partkey", "l_suppkey"), nBuckets = 32)),
    // Hilbert-curve layout over the same columns — the locality-stronger
    // curve (adjacency proven in HilbertSpec), directly comparable buckets
    "q_hilbert_layout" -> ((s, dir) =>
      Hilbert.clusteringReport(Tables.lineitem(s, dir),
        Seq("l_partkey", "l_suppkey"), nBuckets = 32)),

    // ---- §2.4 equi-depth partition assignment (part_equidepth) ----
    "q_part_equidepth" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("ts_epoch"), col("l_orderkey"), col("l_linenumber"))
      li(s, dir)
        .withColumn("bucket", ntile(8).over(w).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
             min("ts_epoch").as("lo"), max("ts_epoch").as("hi"))
        .orderBy("bucket")
    }),

    // ---- round 7f: layout / survival / calibration / vector-health ----
    // co-bucketed fact-fact join: orders + lineitem bucketed by order key,
    // SMJ with ZERO exchange on either side (BucketedJoinSpec); the oracle
    // aggregates the ORIGINAL parquet — equality across the bucketed
    // write/read hop + co-located join is the check
    "q_bucketed_join" -> ((s, dir) =>
      graft.sources.BucketedTables.colocatedJoinAgg(s, dir)),
    // Kaplan-Meier churn curve over per-customer order spans (first->last
    // order, churn = last order >1y before the horizon); survival is a
    // contractual left-to-right fold over duration-ordered IEEE factors
    "q_survival_km" -> ((s, dir) =>
      Funnel.survivalCurve(Tables.orders(s, dir), "o_custkey", "o_orderdate",
        churnAfterDays = 365)),
    // reliability diagram + ECE for the hashed-linear classifier against
    // the lang=='en' truth: algebraic sigmoid in integer micro-units,
    // exact per-bin evidence, division-only floats
    "q_calibration_bins" -> ((s, dir) =>
      Classifier.calibrationReport(
        Classifier.scoreUnsorted(Tables.documents(s, dir),
          keep = Seq((col("lang") === "en").as("truth"))),
        "score", "truth")),
    // per-label embedding-health audit: ragged dims / non-finite / zero
    // vectors / squared-norm extremes + exact-decimal mean
    "q_vec_norm_audit" -> ((s, dir) =>
      VectorOps.normAudit(Tables.embeddings(s, dir), "embedding", "label")),

    // ---- round-7g lanes ----
    // per-lang token-frequency concentration: exact-integer Gini over the
    // count-ascending rank ladder + decile/hapax shares
    "q_token_gini" -> ((s, dir) =>
      TextAnalysis.tokenGini(Tables.documents(s, dir))),
    // log-free lexical diversity: unbiased Simpson, inverse-Simpson
    // effective vocabulary, TTR — exact evidence, division-only floats
    "q_token_diversity" -> ((s, dir) =>
      TextAnalysis.tokenDiversity(Tables.documents(s, dir))),
    // one-way ANOVA of doc length across languages: exact decimal moments,
    // contractual lang-ordered fold for the cross-group IEEE sums
    "q_anova_chars" -> ((s, dir) =>
      Relational.anovaOneWay(Tables.documents(s, dir), "lang", "n_chars")),
    // exact feature-covariance matrix of the embedding corpus
    // (dim-pair grain; the PCA/whitening input and cross-producer drift check)
    "q_cov_matrix" -> ((s, dir) => embeddingCov(s, dir)),
    // isotonic (PAV) recalibration in closed minimax form over 64 bins —
    // pure relational algebra, no driver loop
    "q_isotonic_fit" -> ((s, dir) =>
      Classifier.isotonicCalibration(
        Classifier.scoreUnsorted(Tables.documents(s, dir),
          keep = Seq((col("lang") === "en").as("truth"))),
        "score", "truth")),

    // ---- round-7h lanes ----
    // chi-square independence grid (event mix x epoch-day-mod-7): exact
    // cross-multiplied cell terms, one division each
    "q_chi2_cells" -> ((s, dir) =>
      Relational.chi2Cells(
        Tables.events(s, dir).withColumn("dow",
          pmod(datediff(to_date(col("ts").cast("timestamp")),
            to_date(lit("1970-01-01"))), lit(7))),
        "event_type", "dow")),
    // single-row chi2 + dof + Cramér's V ((r,c)-ordered contractual fold)
    "q_chi2_summary" -> ((s, dir) =>
      Relational.chi2Independence(
        Tables.events(s, dir).withColumn("dow",
          pmod(datediff(to_date(col("ts").cast("timestamp")),
            to_date(lit("1970-01-01"))), lit(7))),
        "event_type", "dow")),
    // PCA eigenbasis earned per-vector: full-rank projection preserves
    // ||x||^2 iff the Jacobi basis is orthonormal (the verdict-boolean
    // oracle pattern — the eigenbasis itself has no SQL form); projection
    // semantics are pinned by PcaSpec (planted low-rank recovery,
    // variance ordering, partition invariance)
    "q_pca_project" -> ((s, dir) =>
      Pca.parsevalAudit(Tables.embeddings(s, dir), "embedding",
        cov = Some(embeddingCov(s, dir)))),
    // 3-core of the co-purchase graph by adaptive peel-to-fixpoint (the
    // dense-subgraph / bot-ring primitive); rounds=16 is now a CAP — the
    // sf0.01 graph converges at 12, so the result is the true core and
    // in_core is all-TRUE; the unrolled 16-round oracle agrees because an
    // unrolled count >= peel depth reproduces the fixpoint
    "q_kcore" -> ((s, dir) =>
      Graph.kCore(coPurchaseEdges(s, dir),
        "item_a", "item_b", k = 3, rounds = 16)),

    // ---- round-7i lanes ----
    // per-column table profile in one pass: exact counts/distincts,
    // portable min/max rendering
    "q_table_profile" -> ((s, dir) =>
      Profile.tableProfile(Tables.lineitem(s, dir),
        memoKey = Some(s"$dir#lineitem"))),
    // 100 TB profile twin: one-pass HLL++ distincts, exact ground truth
    // alongside, oracle gates the accuracy-verdict boolean per column
    "q_table_profile_approx" -> ((s, dir) =>
      Profile.tableProfileApprox(Tables.lineitem(s, dir),
        memoKey = Some(s"$dir#lineitem"))),
    // classifier threshold sweep: precision/recall/F1 per probability bin
    // from exact descending prefix integers
    "q_pr_curve" -> ((s, dir) =>
      Classifier.prCurve(
        Classifier.scoreUnsorted(Tables.documents(s, dir),
          keep = Seq((col("lang") === "en").as("truth"))),
        "score", "truth")),
    // Kish effective sample size + design effect of the stratified sample
    // (same rates as q_sample_stratified), exact-numerator fold
    "q_sample_ess" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang")
      Sampling.samplingEss(docs,
        Sampling.stratified(docs, "doc_id", "lang",
          Map("en" -> 37), defaultPct = 83), "lang")
    }),
    // chance-corrected agreement between the hashed classifier and the
    // lang gate: kappa = (N*D - E)/(N^2 - E), one division
    "q_cohens_kappa" -> ((s, dir) => {
      val scored = Classifier.scoreUnsorted(Tables.documents(s, dir),
        keep = Seq(when(col("lang") === "en", "pos").otherwise("neg")
          .as("rater_b")))
      Relational.cohensKappa(
        scored.withColumn("rater_a",
          when(col("score") > 0, "pos").otherwise("neg")),
        "rater_a", "rater_b")
    }),
    // token-weighted doc-length percentiles: what the TOKEN MASS sees —
    // exact integer ladder, division-free selection
    "q_weighted_pctl" -> ((s, dir) => {
      val words = split(trim(regexp_replace(lower(col("text")),
        "[^a-z0-9]+", " ")), " ")
      Relational.weightedPercentiles(
        Tables.documents(s, dir)
          .select(col("n_chars"), size(words).cast("long").as("w")),
        "n_chars", "w", Seq(25, 50, 90, 99))
    }),

    // ---- round-8 lanes ----
    // Welch two-sample t-test on MEANS (the z-test lane covers rates):
    // mean doc length, en vs non-en — exact cross-multiplied mean diff
    "q_welch_ttest" -> ((s, dir) =>
      Relational.welchTTest(
        Tables.documents(s, dir).withColumn("arm",
          when(col("lang") === "en", "en").otherwise("other")),
        "arm", "n_chars")),
    // t-closeness audit (3rd rung after k-anonymity / l-diversity): EMD of
    // each QI class's sensitive distribution vs global, ordered domain
    "q_t_closeness" -> ((s, dir) =>
      Validate.tCloseness(
        Tables.customer(s, dir).join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey")),
        "c_nationkey", "c_mktsegment", "o_orderpriority")),
    // K-fold leakage-free target encoding of source -> P(lang=en), with
    // pseudo-count smoothing toward the out-of-fold prior — one division
    "q_target_encode" -> ((s, dir) =>
      Classifier.targetEncode(Tables.documents(s, dir), "source", "doc_id",
        when(col("lang") === "en", 1).otherwise(0))),
    // daily-volume autocorrelation per event type at lags 1..7 — the
    // weekly-pulse probe; exact integer Pearson moments
    "q_acf_daily" -> ((s, dir) =>
      Funnel.acfDaily(Tables.events(s, dir))),
    // Holt linear-trend forecast of daily volume per event type — the
    // capacity-planning extrapolation EWMA can't do; contractual day-order
    // fold with literal alpha/beta shared with the oracle
    "q_holt_forecast" -> ((s, dir) =>
      Funnel.holtForecast(Tables.events(s, dir))),
    // DPO-style preference pairs: widest classifier-score gaps within each
    // prompt group, margin-gated, deterministic tiebreaks
    "q_dpo_pairs" -> ((s, dir) =>
      Classifier.preferencePairs(Tables.documents(s, dir))),
    // SFT chat assembly: sessionize -> role-tagged ordered transcript ->
    // turn/token counts + md5 digest (byte-exact assembly contract)
    "q_chat_assemble" -> ((s, dir) =>
      JsonOps.chatAssemble(Tables.events(s, dir))),
    // Markov removal-effect attribution: absorbing-chain value iteration
    // on the session-path transition matrix, per-channel knockout credit
    "q_markov_attribution" -> ((s, dir) =>
      Funnel.markovAttribution(Tables.events(s, dir))),
    // IPF raking of the lang x source mixture to equal-share margins —
    // the survey-weighting fixpoint applied to dataset balancing
    "q_mixture_rake" -> ((s, dir) =>
      Sampling.rakeMixture(Tables.documents(s, dir), "lang", "source")),
    // A/B power review: MDE at the current sample, n required for the
    // observed effect, powered verdict — literal z constants, no erf
    "q_ab_power" -> ((s, dir) =>
      Funnel.abTestPower(Tables.events(s, dir))),
    // cohort LTV curve: cumulative revenue per cohort member by week
    // offset — 2^-20-grid revenue, exact integer running sums
    "q_cohort_ltv" -> ((s, dir) =>
      Funnel.cohortLtv(Tables.events(s, dir))),
    // engagement stickiness: DAU/WAU/MAU + ratios per full-history day
    "q_stickiness" -> ((s, dir) =>
      Funnel.stickiness(Tables.events(s, dir))),
    // RFM user segmentation: value-ladder quintiles, integer-exact ceil,
    // coarse-grid monetary scoring, "555" segment labels
    "q_rfm_segments" -> ((s, dir) =>
      Funnel.rfmSegments(Tables.events(s, dir))),
    // leave-one-out recommender evaluation: hold out each basket's max
    // item, rebuild CF on the rest, report hit@3 + exact-rational MRR
    "q_rec_eval" -> ((s, dir) =>
      Graph.recommendationEval(cfBaskets(s, dir), "cust", "supp")),
  )

  /** Unrolled fixed-round k-core peeling over the co-purchase edge CTE
    * (the q_triangle_count edge derivation) — a data-dependent round count
    * can't be replayed by SQL, so both engines run exactly `rounds`. CTEs
    * are MATERIALIZED: each round references the previous one twice, and
    * DuckDB's default inlining doubles the tree per round (2^rounds base
    * scans — measured "too many open files" at 8 rounds), the exact twin
    * of the Spark-side lineage blowup localCheckpoint prevents. */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val base =
      """WITH baskets AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
        |canon AS MATERIALIZED (SELECT a.item AS a, b.item AS b
        |    FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
        |    GROUP BY 1, 2 HAVING count(*) >= 2),
        |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM canon UNION ALL SELECT b, a FROM canon)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s""",
         |k$i AS MATERIALIZED (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |    JOIN k$i s ON e.src = s.src JOIN k$i d ON e.dst = d.src)""".stripMargin
    }.mkString
    base + steps +
      s"""
         |SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg,
         |  count(*) >= $k AS in_core
         |FROM e$rounds GROUP BY src ORDER BY node""".stripMargin
  }

  /** Shared DuckDB CTE fragments for the near-dup / similarity oracles —
    * mirror graft.operators.NearDup / Similarity expression-for-expression
    * (same hash seeds, same sequential float->double summation order) so
    * results are bit-identical, not just approximately equal. */
  private val shingleCtes =
    """d AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
      |                 i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 2), ' '))) AS sh FROM d)""".stripMargin
  private val sigCtes =
    s"""$shingleCtes,
       |sig AS (SELECT doc_id, sh,
       |  list_transform(range(0, 16), s -> list_min(list_transform(sh,
       |    x -> md5(CAST(s AS VARCHAR) || '_' || x)))) AS sig FROM sh)""".stripMargin
  /** MinHash/LSH pair chain (signatures -> bands -> candidates -> exact
    * Jaccard) — shared by the pair query and the connected-components
    * clustering oracle, which runs a recursive transitive closure on top. */
  private def minhashPairCtes: String =
    s"""$sigCtes,
       |bands AS (SELECT doc_id, b AS band,
       |    md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), '|')) AS key
       |  FROM sig CROSS JOIN range(0, 4) r(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |jac AS (SELECT a_id, b_id,
       |    CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS BIGINT) AS inter,
       |    CAST(len(sa.sh) + len(sb.sh) AS BIGINT)
       |      - CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS BIGINT) AS uni
       |  FROM cand JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id)""".stripMargin

  /** Unrolled greedy MMR selection — one CTE block per pick, mirroring
    * `Similarity.mmrSelect`'s driver loop step for step (the BpeTrainer
    * oracle pattern: sequential algorithms unroll, they don't approximate).
    * lambda is fixed at 0.5 (exactly representable) so `rel*0.5 -
    * max_sim*0.5` is the same IEEE arithmetic on both engines. */
  /** Shared CTEs for the ext_image_phash oracles: the deterministic 32x32
    * grayscale pixel formula ([[graft.operators.ImagePhash.pixel]]) expanded
    * per (img, x, y), 4x4 cell sums, and the 64-bit average hash as two
    * 32-bit BIGINT halves — bit iff cell_sum * 64 > total (integer
    * cross-multiply, no division). */
  private def phashCtes: String =
    """ids AS (SELECT doc_id AS img_id FROM documents),
      |px AS (SELECT img_id, rx.range AS x, ry.range AS y
      |  FROM ids, range(0, 32) rx, range(0, 32) ry),
      |pv AS (SELECT img_id, x, y, (y // 4) * 8 + (x // 4) AS ci,
      |    CASE WHEN ((((y // 4) * 8 + (x // 4) + 1) * ((img_id % 7) + 2)) % 11 < 5)
      |              <> ((img_id % 3 = 0) AND ((y // 4) * 8 + (x // 4) = img_id % 64))
      |         THEN 200 ELSE 40 END
      |    + ((x * 31 + y * 17 + img_id) % 3) AS p
      |  FROM px),
      |cs AS (SELECT img_id, ci, sum(p) AS cell_sum FROM pv GROUP BY img_id, ci),
      |tt AS (SELECT img_id, sum(cell_sum) AS total FROM cs GROUP BY img_id),
      |bits AS (SELECT c.img_id, c.ci, (c.cell_sum * 64 > t.total) AS b
      |  FROM cs c JOIN tt t ON c.img_id = t.img_id),
      |h AS (SELECT img_id,
      |    CAST(sum(CASE WHEN b AND ci >= 32
      |      THEN (CAST(1 AS BIGINT) << CAST(ci - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS a_hash_hi,
      |    CAST(sum(CASE WHEN b AND ci < 32
      |      THEN (CAST(1 AS BIGINT) << CAST(ci AS INTEGER)) ELSE 0 END) AS BIGINT) AS a_hash_lo
      |  FROM bits GROUP BY img_id)""".stripMargin

  /** Shared line-view CTEs for the ext_line_dedup oracles: fixed 2-word
    * line chunking of each doc, per-line document frequency, corpus count.
    * Mirrors [[graft.operators.LineDedup.lines]] exactly (0-based line_no,
    * trailing short chunk kept). */
  private def lineDedupCtes: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ln AS (SELECT doc_id, CAST(i AS BIGINT) AS line_no,
      |    array_to_string(ws[i*2+1 : i*2+2], ' ') AS line
      |  FROM w, LATERAL (SELECT unnest(range(0, (len(ws)-1)//2 + 1)) AS i) t),
      |pd AS (SELECT DISTINCT line, doc_id FROM ln),
      |df AS (SELECT line, CAST(count(*) AS BIGINT) AS doc_freq
      |  FROM pd GROUP BY line),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)""".stripMargin

  private def mmrSql(nCand: Int, k: Int): String = {
    val steps = (2 to k).map { i =>
      s"""s$i AS (SELECT q_id, CAST($i AS BIGINT) AS pick, n_id, rel FROM (
         |  SELECT m.q_id, m.n_id, m.rel,
         |    row_number() OVER (PARTITION BY m.q_id ORDER BY m.mmr DESC, m.n_id) AS rn
         |  FROM (SELECT c.q_id, c.n_id, c.rel, c.rel * 0.5 - max(s.sim) * 0.5 AS mmr
         |        FROM cand c
         |        JOIN sims s ON s.q_id = c.q_id AND s.a_id = c.n_id
         |        JOIN sel${i - 1} p ON p.q_id = s.q_id AND p.n_id = s.b_id
         |        WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} e
         |                          WHERE e.q_id = c.q_id AND e.n_id = c.n_id)
         |        GROUP BY c.q_id, c.n_id, c.rel) m) x WHERE rn = 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |           FROM embeddings),
       |bs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${cosSql("q.emb", "c.emb")} AS cos
       |  FROM v c CROSS JOIN v q WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
       |cand AS (SELECT q_id, n_id, cos AS rel FROM (SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
       |  FROM bs) x WHERE rk <= $nCand),
       |sims AS (SELECT ca.q_id, ca.n_id AS a_id, cb.n_id AS b_id,
       |    ${cosSql("va.emb", "vb.emb")} AS sim
       |  FROM cand ca JOIN cand cb ON ca.q_id = cb.q_id AND ca.n_id <> cb.n_id
       |  JOIN v va ON va.vec_id = ca.n_id JOIN v vb ON vb.vec_id = cb.n_id),
       |s1 AS (SELECT q_id, CAST(1 AS BIGINT) AS pick, n_id, rel FROM (
       |  SELECT q_id, n_id, rel,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, n_id) AS rn
       |  FROM cand) x WHERE rn = 1),
       |sel1 AS (SELECT * FROM s1),
       |$steps
       |SELECT q_id, pick, n_id, rel FROM sel$k ORDER BY q_id, pick""".stripMargin
  }

  /** [[minhashPairCtes]] generalized to any (numHashes, numBands) — the
    * oracle side of `NearDup.autoTuneBanding`'s pick. The auto-tuner is
    * deterministic (content-addressed sample, exact percentile, grid-snap),
    * so the pick on the sf0.01 fixture is a constant the oracle can mirror:
    * Banding(4 bands, 1 row) = 4 hashes (`q_dedup_minhash_auto`). */
  private def minhashPairCtesFor(numHashes: Int, numBands: Int): String = {
    val r = numHashes / numBands
    s"""$shingleCtes,
       |sig AS (SELECT doc_id, sh,
       |  list_transform(range(0, $numHashes), s -> list_min(list_transform(sh,
       |    x -> md5(CAST(s AS VARCHAR) || '_' || x)))) AS sig FROM sh),
       |bands AS (SELECT doc_id, b AS band,
       |    md5(array_to_string(list_slice(sig, b * $r + 1, b * $r + $r), '|')) AS key
       |  FROM sig CROSS JOIN range(0, $numBands) r(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |jac AS (SELECT a_id, b_id,
       |    CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS BIGINT) AS inter,
       |    CAST(len(sa.sh) + len(sb.sh) AS BIGINT)
       |      - CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS BIGINT) AS uni
       |  FROM cand JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id)""".stripMargin
  }

  /** BPE merge-training chain, one (count -> argmax -> regex-apply) CTE
    * block per step — the unrolled mirror of [[BpeTrainer.merges]]'s driver
    * loop. The `(tok)(tok)` wrapping makes global regex replacement equal
    * BPE's leftmost non-overlapping merge in both engines. */
  private def bpeCtes(steps: Int): String = {
    // doc_id rides along through s0..sN (merge selection aggregates over all
    // rows regardless) so the APPLY oracle (`q_bpe_apply`) can read per-doc
    // final sequences; mK is one row, so the sK cross join preserves rows
    val s0 =
      """s0 AS (SELECT doc_id, '(' || array_to_string(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '), ')(') || ')' AS seq
        |       FROM documents)""".stripMargin
    val per = (1 to steps).map { k =>
      s"""p$k AS (SELECT t[CAST(i AS INT)] AS l, t[CAST(i AS INT) + 1] AS r, count(*) AS c
         |  FROM (SELECT t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
         |        FROM (SELECT regexp_extract_all(seq, '\\(([^()]*)\\)', 1) AS t FROM s${k - 1}) y) x
         |  GROUP BY 1, 2),
         |m$k AS (SELECT l, r, c FROM p$k ORDER BY c DESC, l, r LIMIT 1),
         |s$k AS (SELECT doc_id, regexp_replace(seq, '\\(' || l || '\\)\\(' || r || '\\)',
         |          '(' || l || ' ' || r || ')', 'g') AS seq FROM s${k - 1}, m$k)""".stripMargin
    }
    (s0 +: per).mkString(",\n")
  }

  /** PQ training chain mirrored per subspace (seed means -> one Lloyd step
    * -> final argmin codes), shared by the code digest (`q_vec_pq`) and the
    * ADC search oracle (`q_vec_adc`). Decimal-exact sums/distances make
    * assignments engine-identical — the IVF discipline, per subspace. */
  /** The per-term VARCHAR hop (`CAST(CAST(term AS VARCHAR) AS DECIMAL)`)
    * reproduces the kernel's exact rounding lane — Java's
    * `BigDecimal.valueOf(double)` rounds the double's SHORTEST DECIMAL
    * REPRESENTATION, while DuckDB's direct double->decimal cast converts
    * the exact binary value; the two differ by 1 ulp at scale 18 on ~half
    * of terms. The same shortest-repr double rounding applies to the
    * component cast `v -> DECIMAL(28,12)` (a component landing near a
    * half-way point at digit 12 rounds differently under the two lanes,
    * shifting a centroid mean by ~1e-12) and to the centroid's
    * decimal->double. Rankings (argmin/probe) shrug these ulps off — the
    * IVF oracle doesn't need the hop — but `q_vec_adc` exposes summed
    * distance VALUES, where every lane difference surfaces. */
  /** IVF coarse-quantizer chain (seed partition -> one Lloyd step -> final
    * assignment + per-query probe lists), CTE names prefixed so the chain
    * can compose with [[pqCtes]] (whose ve/seed/c0/d0/a1/c1/d1/a2 names it
    * would otherwise shadow) in the IVF-PQ oracle. */
  private def ivfCtes(p: String, where: String = ""): String =
    s"""${p}ve AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim,
       |          CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
       |        FROM embeddings CROSS JOIN range(1, 65) r(i) $where),
       |${p}seed AS (SELECT vec_id, vec_id % 8 AS list FROM embeddings $where),
       |${p}c0 AS (SELECT list, dim,
       |         CAST(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) / count(*) AS c
       |       FROM ${p}ve JOIN ${p}seed USING (vec_id) GROUP BY list, dim),
       |${p}d0 AS (SELECT vec_id, list,
       |         sum(CAST((v - c) * (v - c) AS DECIMAL(38,18))) AS dist2
       |       FROM ${p}ve JOIN ${p}c0 USING (dim) GROUP BY vec_id, list),
       |${p}a1 AS (SELECT vec_id, list FROM (
       |         SELECT vec_id, list,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, list) AS rn
       |         FROM ${p}d0) x WHERE rn = 1),
       |${p}c1 AS (SELECT list, dim,
       |         CAST(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) / count(*) AS c
       |       FROM ${p}ve JOIN ${p}a1 USING (vec_id) GROUP BY list, dim),
       |${p}d1 AS (SELECT vec_id, list,
       |         sum(CAST((v - c) * (v - c) AS DECIMAL(38,18))) AS dist2
       |       FROM ${p}ve JOIN ${p}c1 USING (dim) GROUP BY vec_id, list),
       |${p}a2 AS (SELECT vec_id, list FROM (
       |         SELECT vec_id, list,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, list) AS rn
       |         FROM ${p}d1) x WHERE rn = 1),
       |${p}probes AS (SELECT vec_id AS q_id, list FROM (
       |         SELECT vec_id, list,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, list) AS rn
       |         FROM ${p}d1 WHERE vec_id < 8) x WHERE rn <= 2),
       |${p}cand AS (SELECT DISTINCT q_id, m.vec_id AS n_id
       |         FROM ${p}probes JOIN ${p}a2 m USING (list) WHERE q_id <> m.vec_id)""".stripMargin

  /** Residual-PQ chain over the `r_`-prefixed IVF lineage: residuals vs the
    * assigned coarse centroid, then the 2-step decimal-exact Lloyd. Final
    * codebooks = `rpc1`, final assignments = `rpa2`. */
  private val rpqCtes =
    """resid AS (SELECT v.vec_id, v.dim, v.v - c.c AS v
      |  FROM r_ve v JOIN r_a2 a USING (vec_id)
      |  JOIN r_c1 c ON c.list = a.list AND c.dim = v.dim),
      |rpve AS (SELECT vec_id, CAST(dim // 8 AS INT) AS s,
      |         CAST(dim % 8 AS INT) AS subdim, v FROM resid),
      |rpseed AS (SELECT vec_id, s, vec_id % 16 AS code
      |         FROM embeddings CROSS JOIN range(0, 8) r(s)),
      |rpc0 AS (SELECT s, code, subdim,
      |         CAST(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) / count(*) AS c
      |       FROM rpve JOIN rpseed USING (vec_id, s) GROUP BY s, code, subdim),
      |rpd0 AS (SELECT vec_id, s, code,
      |         sum(CAST(CAST((v - c) * (v - c) AS VARCHAR) AS DECIMAL(38,18))) AS dist2
      |       FROM rpve JOIN rpc0 USING (s, subdim) GROUP BY vec_id, s, code),
      |rpa1 AS (SELECT vec_id, s, code FROM (
      |         SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist2, code) AS rn
      |         FROM rpd0) x WHERE rn = 1),
      |rpc1 AS (SELECT s, code, subdim,
      |         CAST(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) / count(*) AS c
      |       FROM rpve JOIN rpa1 USING (vec_id, s) GROUP BY s, code, subdim),
      |rpd1 AS (SELECT vec_id, s, code,
      |         sum(CAST(CAST((v - c) * (v - c) AS VARCHAR) AS DECIMAL(38,18))) AS dist2
      |       FROM rpve JOIN rpc1 USING (s, subdim) GROUP BY vec_id, s, code),
      |rpa2 AS (SELECT vec_id, s, code FROM (
      |         SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist2, code) AS rn
      |         FROM rpd1) x WHERE rn = 1)""".stripMargin

  private val pqCtes =
    """ve AS (SELECT vec_id, CAST((i - 1) // 8 AS INT) AS s,
      |         CAST((i - 1) % 8 AS INT) AS subdim,
      |         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
      |       FROM embeddings CROSS JOIN range(1, 65) r(i)),
      |seed AS (SELECT vec_id, s, vec_id % 16 AS code
      |         FROM embeddings CROSS JOIN range(0, 8) r(s)),
      |c0 AS (SELECT s, code, subdim,
      |         CAST(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) / count(*) AS c
      |       FROM ve JOIN seed USING (vec_id, s) GROUP BY s, code, subdim),
      |d0 AS (SELECT vec_id, s, code,
      |         sum(CAST(CAST((v - c) * (v - c) AS VARCHAR) AS DECIMAL(38,18))) AS dist2
      |       FROM ve JOIN c0 USING (s, subdim) GROUP BY vec_id, s, code),
      |a1 AS (SELECT vec_id, s, code FROM (
      |         SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist2, code) AS rn
      |         FROM d0) x WHERE rn = 1),
      |c1 AS (SELECT s, code, subdim,
      |         CAST(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE) / count(*) AS c
      |       FROM ve JOIN a1 USING (vec_id, s) GROUP BY s, code, subdim),
      |d1 AS (SELECT vec_id, s, code,
      |         sum(CAST(CAST((v - c) * (v - c) AS VARCHAR) AS DECIMAL(38,18))) AS dist2
      |       FROM ve JOIN c1 USING (s, subdim) GROUP BY vec_id, s, code),
      |a2 AS (SELECT vec_id, s, code FROM (
      |         SELECT vec_id, s, code,
      |           row_number() OVER (PARTITION BY vec_id, s ORDER BY dist2, code) AS rn
      |         FROM d1) x WHERE rn = 1)""".stripMargin

  /** The curation kernel (quality gate -> language gate -> exact dedup ->
    * MinHash near-dup losers) as a reusable CTE chain: `q_curation` selects
    * the survivors; `q_curation_v2` chains the round-3 corpus-shaping stages
    * on top of the same kernel. */
  private def curationCtes: String = curationCtesFrom("documents")

  private def curationCtesFrom(src: String): String =
    s"""q AS (
      |  SELECT doc_id, text, lang,
      |    CAST(length(text) AS BIGINT) AS len,
      |    CAST(len(list_filter(string_split(text, ' '),
      |          t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
      |      / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS stop_ratio,
      |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('der','und','die'))) AS BIGINT) AS s_de,
      |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','a','and'))) AS BIGINT) AS s_en,
      |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('el','la','y'))) AS BIGINT) AS s_es,
      |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('le','et','les'))) AS BIGINT) AS s_fr,
      |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('de','shi','le'))) AS BIGINT) AS s_zh
      |  FROM $src),
      |gated AS (
      |  SELECT doc_id, text FROM q
      |  WHERE len BETWEEN 100 AND 520 AND stop_ratio >= 0.03
      |    AND (CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
      |              WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
      |              WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
      |              WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
      |              ELSE 'zh' END) = lang),
      |exact AS (
      |  SELECT min(doc_id) AS doc_id
      |  FROM (SELECT doc_id,
      |          md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |        FROM gated) x GROUP BY fp),
      |surv AS (SELECT g.doc_id, g.text FROM gated g JOIN exact USING (doc_id)),
      |d2 AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM surv),
      |sh2 AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
      |          i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 2), ' '))) AS sh FROM d2),
      |sig2 AS (SELECT doc_id, sh,
      |  list_transform(range(0, 16), s -> list_min(list_transform(sh,
      |    x -> md5(CAST(s AS VARCHAR) || '_' || x)))) AS sig FROM sh2),
      |bands2 AS (SELECT doc_id, b AS band,
      |    md5(array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), '|')) AS key
      |  FROM sig2 CROSS JOIN range(0, 4) r(b)),
      |cand2 AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands2 a JOIN bands2 b
      |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      |losers AS (SELECT DISTINCT b_id FROM (
      |  SELECT a_id, b_id,
      |    CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
      |      / (CAST(len(sa.sh) + len(sb.sh) AS DOUBLE)
      |         - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS j
      |  FROM cand2 JOIN sh2 sa ON sa.doc_id = a_id JOIN sh2 sb ON sb.doc_id = b_id) p
      |  WHERE j >= 0.5)""".stripMargin

  /** kernel-survivors -> containment -> decontaminate -> passage scrub ->
    * chunk -> pack manifest chain (the v4 body), ending in `mman` (the
    * per-sequence manifest with pack_id + split) — shared by
    * `q_curation_v4` and the shard-layout capstone `q_curation_v5`.
    * Consumes `surv`/`losers` from [[curationCtesFrom]]. */
  private def manifestScrubCtes: String =
    s"""kept AS (SELECT s.doc_id, s.text FROM surv s
       |  WHERE s.doc_id NOT IN (SELECT b_id FROM losers)),
       |kd AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM kept),
       |ksh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
       |          i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 2), ' '))) AS sh FROM kd),
       |ktok AS (SELECT doc_id, unnest(sh) AS tok FROM ksh),
       |kn AS (SELECT doc_id, len(sh) AS n_sh FROM ksh),
       |kinter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       |  FROM ktok a JOIN ktok b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |closers AS (SELECT DISTINCT b_id FROM kinter
       |  JOIN kn na ON na.doc_id = a_id JOIN kn nb ON nb.doc_id = b_id
       |  WHERE CAST(inter AS DOUBLE) / CAST(least(na.n_sh, nb.n_sh) AS DOUBLE) >= 0.8),
       |ac AS (SELECT doc_id, text FROM kept
       |  WHERE doc_id NOT IN (SELECT b_id FROM closers)),
       |acg AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 7, 1) + 1),
       |          i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 7), ' '))) AS g
       |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM ac) x),
       |bench AS (SELECT DISTINCT unnest(g) AS gram FROM acg WHERE doc_id % 10 = 0),
       |train AS (SELECT doc_id, g FROM acg WHERE doc_id % 10 <> 0),
       |hits AS (SELECT t.doc_id, count(*) AS n_hit
       |  FROM (SELECT doc_id, unnest(g) AS gram FROM train) t
       |  JOIN bench USING (gram) GROUP BY t.doc_id),
       |clean AS (SELECT tr.doc_id FROM train tr LEFT JOIN hits h USING (doc_id)
       |  WHERE coalesce(h.n_hit, 0) = 0),
       |cd0 AS (SELECT c.doc_id, string_split(trim(regexp_replace(lower(a.text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
       |  FROM clean c JOIN ac a USING (doc_id)),
       |wins4 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    md5(array_to_string(w[i:i+15], ' ')) AS h
       |  FROM cd0, LATERAL (SELECT unnest(range(1, len(w) - 15 + 1)) AS i) t
       |  WHERE len(w) >= 16),
       |dup4 AS (SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c
       |    FROM wins4) WHERE c > 1),
       |isl4 AS (SELECT doc_id, pos,
       |    CASE WHEN max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |         OR pos > max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
       |         THEN 1 ELSE 0 END AS nw
       |  FROM dup4),
       |isl24 AS (SELECT doc_id, pos,
       |    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM isl4),
       |spans4 AS (SELECT doc_id, island,
       |    min(pos) AS span_start, max(pos + 15) AS span_end
       |  FROM isl24 GROUP BY doc_id, island),
       |ktok4 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i] AS tok
       |  FROM cd0, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t),
       |kept4 AS (SELECT t.doc_id, t.pos, t.tok FROM ktok4 t
       |  WHERE NOT EXISTS (SELECT 1 FROM spans4 s
       |    WHERE s.doc_id = t.doc_id
       |      AND t.pos BETWEEN s.span_start AND s.span_end)),
       |cd AS (SELECT doc_id, list(tok ORDER BY pos) AS w
       |  FROM kept4 GROUP BY doc_id),
       |cs AS (SELECT doc_id, w,
       |  unnest(range(1, greatest(len(w) - 63, 1) + 1, 48)) AS st FROM cd),
       |chunks AS (SELECT doc_id, CAST((st - 1) / 48 AS BIGINT) AS chunk_idx,
       |  CAST(least(len(w) - st + 1, 64) AS BIGINT) AS n_tokens FROM cs),
       |p AS (SELECT doc_id, chunk_idx, n_tokens,
       |  CAST(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    - n_tokens AS token_start
       |  FROM chunks),
       |mman AS (SELECT doc_id, chunk_idx, n_tokens, token_start,
       |  CAST(token_start // ${CurationPipeline.PackBudget} AS BIGINT) AS pack_id,
       |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_v1'), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
       |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_v1'), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |  FROM p)""".stripMargin

  /** Gap-sessionization CTE chain (1800s gap) — shared by `q_sessionize`
    * and the binned range-join oracle, which re-derives the session windows
    * and assigns every event back to one. */
  private val sessionCtes =
    """e AS (
      |  SELECT user_id, event_id,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
      |         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
      |           (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_sec
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800
      |                 THEN 1 ELSE 0 END AS new_session FROM e),
      |g AS (
      |  SELECT *, sum(new_session) OVER
      |    (PARTITION BY user_id ORDER BY ts_sec, event_id
      |     ROWS UNBOUNDED PRECEDING) AS session_seq FROM f)""".stripMargin

  /** Unrolled Markov-attribution oracle: fixed 12-step value iteration per
    * removal variant (none + each fixture channel), each state update the
    * ORDERED fold matching the driver solve — list_reduce over ascending
    * destinations, conversion term added last (fold(0,…)+conv; 0.0+x is an
    * IEEE identity, so the init-free list_reduce is bit-identical). The
    * channel set is the fixture's (a static SQL text cannot enumerate a
    * data-dependent removal list) — same convention as the xcorr lanes'
    * literal event types. */
  private def markovOracle(iters: Int = 12): String = {
    val channels = Seq("click", "error", "signup", "view")
    val removals = ("none", "") +: channels.map(c => (c, s" AND t.dst <> '$c'"))
    val iterCtes = removals.flatMap { case (tag, pred) =>
      (s"p${tag}0 AS MATERIALIZED (SELECT src AS i, CAST(0.0 AS DOUBLE) AS p FROM outs)") +:
        (1 to iters).map { k =>
          s"""p$tag$k AS MATERIALIZED (
             |  SELECT o.src AS i, coalesce(f.s, 0.0) + coalesce(c.cv, 0.0) AS p
             |  FROM outs o
             |  LEFT JOIN (SELECT t.src, list_reduce(
             |      list(CAST(t.n AS DOUBLE) / CAST(o2.n_out AS DOUBLE) * q.p ORDER BY t.dst),
             |      (a, b) -> a + b) AS s
             |    FROM trans t JOIN outs o2 ON o2.src = t.src
             |    JOIN p$tag${k - 1} q ON q.i = t.dst
             |    WHERE t.dst NOT IN ('__conv__', '__end__')$pred
             |    GROUP BY t.src) f ON f.src = o.src
             |  LEFT JOIN conv c ON c.src = o.src)""".stripMargin
        }
    }.mkString(",\n")
    val resRows = channels.map { c =>
      s"""SELECT '$c' AS channel,
         |  (SELECT p FROM pnone$iters WHERE i = '__start__') AS p_conv,
         |  (SELECT p FROM p$c$iters WHERE i = '__start__') AS p_conv_removed""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
       |         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
       |           (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_sec
       |  FROM events WHERE event_type IS NOT NULL),
       |f AS (
       |  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800
       |                 THEN 1 ELSE 0 END AS new_session FROM e),
       |g AS (
       |  SELECT *, sum(new_session) OVER
       |    (PARTITION BY user_id ORDER BY ts_sec, event_id
       |     ROWS UNBOUNDED PRECEDING) AS session_seq FROM f),
       |k AS (
       |  SELECT *, coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |    OVER (PARTITION BY user_id, session_seq ORDER BY ts_sec, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_conv
       |  FROM g),
       |kk AS (SELECT * FROM k WHERE prior_conv = 0),
       |st AS (
       |  SELECT user_id, session_seq, ts_sec, event_id,
       |    CASE WHEN event_type = 'purchase' THEN '__conv__' ELSE event_type END AS dst,
       |    coalesce(lag(event_type) OVER
       |      (PARTITION BY user_id, session_seq ORDER BY ts_sec, event_id),
       |      '__start__') AS src,
       |    row_number() OVER (PARTITION BY user_id, session_seq
       |      ORDER BY ts_sec DESC, event_id DESC) AS rn_last
       |  FROM kk),
       |walk AS (SELECT src, dst FROM st
       |  UNION ALL
       |  SELECT dst AS src, '__end__' AS dst FROM st
       |  WHERE rn_last = 1 AND dst <> '__conv__'),
       |trans AS (SELECT src, dst, count(*) AS n FROM walk GROUP BY 1, 2),
       |outs AS (SELECT src, sum(n) AS n_out FROM trans GROUP BY 1),
       |conv AS (SELECT t.src, CAST(t.n AS DOUBLE) / CAST(o.n_out AS DOUBLE) AS cv
       |         FROM trans t JOIN outs o ON o.src = t.src WHERE t.dst = '__conv__'),
       |$iterCtes,
       |res AS (
       |$resRows),
       |vis AS (SELECT dst AS channel, CAST(sum(n) AS BIGINT) AS n_visits
       |        FROM trans WHERE dst IN ('click', 'error', 'signup', 'view')
       |        GROUP BY dst),
       |eff AS (SELECT r.channel, coalesce(v.n_visits, 0) AS n_visits,
       |    r.p_conv, r.p_conv_removed,
       |    CASE WHEN r.p_conv > 0 THEN (r.p_conv - r.p_conv_removed) / r.p_conv
       |         END AS removal_effect
       |  FROM res r LEFT JOIN vis v USING (channel)),
       |tot AS (SELECT list_reduce(list(removal_effect ORDER BY channel),
       |    (a, b) -> a + b) AS te FROM eff)
       |SELECT channel, n_visits, p_conv, p_conv_removed, removal_effect,
       |  CASE WHEN te > 0 THEN removal_effect / te END AS share
       |FROM eff, tot ORDER BY channel""".stripMargin
  }

  /** Unrolled IPF-raking oracle: fixed-count alternating margin fits over
    * the (lang, source) cell grid, each margin the ascending-ordered
    * list_reduce fold of w·n — term-for-term the driver rake (absent cells
    * contribute the 0.0 IEEE identity there, nothing here — same fold). */
  private def rakeOracle(iters: Int = 10): String = {
    val iterCtes = (1 to iters).map { k =>
      s"""ma$k AS MATERIALIZED (
         |  SELECT a, list_reduce(list(w * CAST(n AS DOUBLE) ORDER BY b),
         |    (x, y) -> x + y) AS ms
         |  FROM w${k - 1} GROUP BY a),
         |wh$k AS MATERIALIZED (
         |  SELECT c.a, c.b, c.n, c.w * (t.ta / m.ms) AS w
         |  FROM w${k - 1} c JOIN ma$k m ON m.a = c.a CROSS JOIN t),
         |mb$k AS MATERIALIZED (
         |  SELECT b, list_reduce(list(w * CAST(n AS DOUBLE) ORDER BY a),
         |    (x, y) -> x + y) AS ms
         |  FROM wh$k GROUP BY b),
         |w$k AS MATERIALIZED (
         |  SELECT c.a, c.b, c.n, c.w * (t.tb / m.ms) AS w
         |  FROM wh$k c JOIN mb$k m ON m.b = c.b CROSS JOIN t)""".stripMargin
    }.mkString(",\n")
    s"""WITH cells AS (
       |  SELECT CAST(lang AS VARCHAR) AS a, CAST(source AS VARCHAR) AS b,
       |         CAST(count(*) AS BIGINT) AS n
       |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
       |  GROUP BY 1, 2),
       |t AS MATERIALIZED (
       |  SELECT CAST(sum(n) AS DOUBLE) / CAST(count(DISTINCT a) AS DOUBLE) AS ta,
       |         CAST(sum(n) AS DOUBLE) / CAST(count(DISTINCT b) AS DOUBLE) AS tb
       |  FROM cells),
       |w0 AS MATERIALIZED (SELECT a, b, n, CAST(1.0 AS DOUBLE) AS w FROM cells),
       |$iterCtes,
       |fma AS (SELECT a, list_reduce(list(w * CAST(n AS DOUBLE) ORDER BY b),
       |    (x, y) -> x + y) AS m FROM w$iters GROUP BY a),
       |fmb AS (SELECT b, list_reduce(list(w * CAST(n AS DOUBLE) ORDER BY a),
       |    (x, y) -> x + y) AS m FROM w$iters GROUP BY b)
       |SELECT c.a, c.b, c.n, c.w AS weight,
       |  c.w * CAST(c.n AS DOUBLE) AS fitted,
       |  fma.m AS margin_a, fmb.m AS margin_b
       |FROM w$iters c JOIN fma ON fma.a = c.a JOIN fmb ON fmb.b = c.b
       |ORDER BY c.a, c.b""".stripMargin
  }

  /** Content-defined chunking chain over a (doc_id, w) tokens CTE: rolling
    * 4-token window digests mark boundaries (mod 16), doc end always
    * closes; final CTE `${p}chunks` carries per-chunk spans + digests. */
  private def cdcCtes(p: String, toksCte: String): String =
    s"""${p}cand AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS b
       |  FROM $toksCte, LATERAL (SELECT unnest(range(4, len(w) + 1)) AS i) t
       |  WHERE CAST('0x' || substr(md5(array_to_string(w[i-3:i], ' ')), 1, 15) AS BIGINT)
       |          % 16 = 0),
       |${p}bnds AS (
       |  SELECT DISTINCT doc_id, b FROM (
       |    SELECT doc_id, b FROM ${p}cand
       |    UNION ALL
       |    SELECT doc_id, CAST(len(w) AS BIGINT) AS b FROM $toksCte)),
       |${p}ch AS (
       |  SELECT doc_id, b,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY b) AS chunk_id,
       |         coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY b), 0) + 1 AS chunk_start
       |  FROM ${p}bnds),
       |${p}chunks AS (
       |  SELECT c.doc_id, CAST(c.chunk_id AS BIGINT) AS chunk_id,
       |         CAST(c.chunk_start AS BIGINT) AS chunk_start,
       |         CAST(c.b AS BIGINT) AS chunk_end,
       |         CAST(c.b - c.chunk_start + 1 AS BIGINT) AS chunk_len,
       |         md5(array_to_string(t.w[c.chunk_start:c.b], ' ')) AS chunk_md5
       |  FROM ${p}ch c JOIN $toksCte t USING (doc_id))""".stripMargin

  /** simhash blocking -> signature levenshtein verify -> accepted pairs
    * (`eacc`) — shared by the pair listing and the survivor composition. */
  private def editDistCtes: String =
    s"""$simhashCtes,
       |blocks AS (
       |  SELECT doc_id, simhash, 0 AS blk, simhash & 65535 AS key FROM fp
       |  UNION ALL
       |  SELECT doc_id, simhash, 1 AS blk, simhash >> 16 AS key FROM fp),
       |spairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM blocks a JOIN blocks b
       |    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id),
       |cand AS (SELECT a_id, b_id, hamming FROM spairs WHERE hamming <= 8),
       |sg AS (SELECT doc_id,
       |         array_to_string(list_transform(string_split(norm, ' '),
       |           t -> chr(CAST(48 + CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 64 AS INT))), '') AS sig
       |       FROM d),
       |ev AS (SELECT c.a_id, c.b_id, c.hamming,
       |        CAST(length(sa.sig) AS BIGINT) AS len_a,
       |        CAST(length(sb.sig) AS BIGINT) AS len_b,
       |        CAST(levenshtein(sa.sig, sb.sig) AS BIGINT) AS edit_dist
       |      FROM cand c
       |      JOIN sg sa ON sa.doc_id = c.a_id
       |      JOIN sg sb ON sb.doc_id = c.b_id),
       |eacc AS (SELECT * FROM ev
       |  WHERE edit_dist * 100 <= greatest(len_a, len_b) * 30)""".stripMargin

  private val simhashCtes =
    """d AS (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm FROM documents),
      |th AS (SELECT doc_id, list_transform(string_split(norm, ' '),
      |         t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS th FROM d),
      |fp AS (SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 32), j ->
      |    CASE WHEN 2 * list_reduce(list_prepend(CAST(0 AS BIGINT),
      |                list_transform(th, h -> (h >> CAST(j AS INT)) & 1)), (a, b) -> a + b)
      |              > len(th)
      |         THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)), (a, b) -> a + b) AS simhash
      |  FROM th)""".stripMargin
  /** double-widened sequential dot product of two DOUBLE-list columns. */
  private def dotSql(a: String, b: String) =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, 65),
       |  i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)])), (x, y) -> x + y)""".stripMargin
  private def cosSql(a: String, b: String) =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
  /** [[dotSql]]/[[cosSql]] over the first `n` dims (MRL prefix ranking). */
  private def dotSqlN(a: String, b: String, n: Int) =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${n + 1}),
       |  i -> $a[CAST(i AS INT)] * $b[CAST(i AS INT)])), (x, y) -> x + y)""".stripMargin
  private def cosSqlN(a: String, b: String, n: Int) =
    s"${dotSqlN(a, b, n)} / (sqrt(${dotSqlN(a, a, n)}) * sqrt(${dotSqlN(b, b, n)}))"
  /** [[dotSql]]/[[cosSql]] over an `n`-dim SUB-vector at 0-based offsets
    * `oa`/`ob` of each list (MaxSim late-interaction scoring). */
  private def dotSqlSub(a: String, b: String, oa: Int, ob: Int, n: Int) =
    s"""list_reduce(list_prepend(0.0, list_transform(range(1, ${n + 1}),
       |  i -> $a[CAST(i AS INT) + $oa] * $b[CAST(i AS INT) + $ob])), (x, y) -> x + y)""".stripMargin
  private def cosSqlSub(a: String, b: String, oa: Int, ob: Int, n: Int) =
    s"${dotSqlSub(a, b, oa, ob, n)} / (sqrt(${dotSqlSub(a, a, oa, oa, n)}) * sqrt(${dotSqlSub(b, b, ob, ob, n)}))"
  /** random-hyperplane bucket key: 8 sign bits from hashed ±1 planes. */
  private def bucketKeySql(v: String, t: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8), j ->
       |  CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(0, 64), i ->
       |         $v[CAST(i AS INT) + 1] * CAST((CAST(('0x' || substr(md5($t || '_' || j || '_' || i), 1, 1)) AS BIGINT) % 2) * 2 - 1 AS DOUBLE))),
       |         (x, y) -> x + y) > 0
       |       THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)), (a, b) -> a + b)""".stripMargin
  private val sketchCte =
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |sk AS (SELECT vec_id, emb, t AS tbl, ${bucketKeySql("emb", "t")} AS key
       |       FROM v CROSS JOIN range(0, 4) r(t))""".stripMargin
  /** Entity-resolution fixture: customers plus two planted dirty-copy
    * classes — +10M copies break the name but keep the synthetic email,
    * +20M copies keep the name but break the email (custkey % 91 gets
    * both). Shared by `q_entity_resolution` (full resolve) and
    * `q_er_incremental` (history side). */
  private def erHistory(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir).select(col("c_custkey").as("id"),
      col("c_name").as("name"),
      concat(lit("cust"), col("c_custkey").cast("string"), lit("@x.com")).as("email"))
    val d7 = base.filter(pmod(col("id"), lit(7)) === 0)
      .select((col("id") + lit(10000000L)).as("id"),
        upper(col("name")).as("name"), col("email"))
    val d13 = base.filter(pmod(col("id"), lit(13)) === 0)
      .select((col("id") + lit(20000000L)).as("id"), col("name"),
        concat(lit("cust"), (col("id") + lit(20000000L)).cast("string"),
          lit("@x.com")).as("email"))
    base.unionAll(d7).unionAll(d13)
  }

  /** [[bucketKeySql]]/[[sketchCte]] generalized to `bits` sign planes — the
    * auto-tuned LSH oracle pins the width [[Similarity.lshAutoBits]] derives
    * from the fixture's corpus count. */
  private def bucketKeySqlBits(v: String, t: String, bits: Int) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $bits), j ->
       |  CASE WHEN list_reduce(list_prepend(0.0, list_transform(range(0, 64), i ->
       |         $v[CAST(i AS INT) + 1] * CAST((CAST(('0x' || substr(md5($t || '_' || j || '_' || i), 1, 1)) AS BIGINT) % 2) * 2 - 1 AS DOUBLE))),
       |         (x, y) -> x + y) > 0
       |       THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)), (a, b) -> a + b)""".stripMargin
  private def sketchCteBits(bits: Int) =
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
       |sk AS (SELECT vec_id, emb, t AS tbl, ${bucketKeySqlBits("emb", "t", bits)} AS key
       |       FROM v CROSS JOIN range(0, 4) r(t))""".stripMargin

  def oracleSql: Map[String, String] = {
    val boundarySql =
      s"""SELECT ts_epoch FROM (
         |  SELECT CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ts_epoch,
         |         row_number() OVER (ORDER BY CAST(floor(epoch(l_shipdate)) AS BIGINT), l_orderkey, l_linenumber) AS rownum
         |  FROM lineitem
         |  WHERE CAST(floor(epoch(l_shipdate)) AS BIGINT) > $Start
         |) t WHERE rownum % $ChunkSize = 0 AND ts_epoch > $Start
         |ORDER BY ts_epoch""".stripMargin
    // Shared CTE chain for the passage-dedup lanes: normalized tokens ->
    // stride-1 16-token window digests -> globally-duplicated windows ->
    // island-merged per-doc spans (mirrors Dedup.duplicatedSpans)
    val passageSpanCtes =
      """toks AS (
        |  SELECT doc_id,
        |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, CAST(i AS BIGINT) AS pos,
        |         md5(array_to_string(w[i:i+15], ' ')) AS h
        |  FROM toks, LATERAL (SELECT unnest(range(1, len(w) - 15 + 1)) AS i) t
        |  WHERE len(w) >= 16),
        |dup AS (
        |  SELECT doc_id, n_tokens, pos FROM (
        |    SELECT doc_id, n_tokens, pos, count(*) OVER (PARTITION BY h) AS c
        |    FROM wins) WHERE c > 1),
        |isl AS (
        |  SELECT doc_id, n_tokens, pos,
        |         CASE WHEN max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |              OR pos > max(pos + 15) OVER (PARTITION BY doc_id ORDER BY pos
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        |              THEN 1 ELSE 0 END AS nw
        |  FROM dup),
        |isl2 AS (
        |  SELECT doc_id, n_tokens, pos,
        |         sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM isl),
        |spans AS (
        |  SELECT doc_id, n_tokens, island,
        |         min(pos) AS span_start, max(pos + 15) AS span_end
        |  FROM isl2 GROUP BY doc_id, n_tokens, island)""".stripMargin
    Map(
      "q_chunk_boundaries" -> boundarySql,
      "q_chunk_boundaries_dist" -> boundarySql,
      "q_chunk_intervals" ->
        s"""WITH b AS ($boundarySql),
           |     seeded AS (SELECT ts_epoch AS b FROM b UNION ALL SELECT $Start)
           |SELECT CAST(row_number() OVER (ORDER BY b) - 1 AS BIGINT) AS chunk_id,
           |       b AS lo,
           |       CAST(lead(b, 1, ${GraftConfig.Sentinel}) OVER (ORDER BY b) AS BIGINT) AS hi
           |FROM seeded ORDER BY chunk_id""".stripMargin,
      "q_range_halfopen" ->
        """SELECT l_orderkey, l_linenumber, CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ts_epoch
          |FROM lineitem
          |WHERE CAST(floor(epoch(l_shipdate)) AS BIGINT) >= 820454400
          |  AND CAST(floor(epoch(l_shipdate)) AS BIGINT) < 852076800
          |ORDER BY l_orderkey, l_linenumber, ts_epoch""".stripMargin,
      "q_pred_gt_proj" ->
        s"""SELECT CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ts_epoch
           |FROM lineitem WHERE CAST(floor(epoch(l_shipdate)) AS BIGINT) > $Start
           |ORDER BY ts_epoch""".stripMargin,
      "q_stringify" ->
        """SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
          |       CAST(l_linenumber AS VARCHAR) AS l_linenumber,
          |       CAST(l_returnflag AS VARCHAR) AS l_returnflag,
          |       CAST(l_linestatus AS VARCHAR) AS l_linestatus
          |FROM lineitem ORDER BY CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT),
          |  l_returnflag, l_linestatus""".stripMargin,
      "q_null_literal" ->
        """SELECT doc_id,
          |       CASE WHEN lower(CAST(source AS VARCHAR)) = 'null' THEN NULL ELSE CAST(source AS VARCHAR) END AS source,
          |       CASE WHEN lower(CAST(lang AS VARCHAR)) = 'null' THEN NULL ELSE CAST(lang AS VARCHAR) END AS lang
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_cast_type_map" ->
        """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
          |       CAST(l_linenumber AS BIGINT) AS l_linenumber,
          |       CAST(l_quantity AS DOUBLE) AS l_quantity,
          |       CAST(l_returnflag AS VARCHAR) AS l_returnflag
          |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
      // the Derby hop is identity on these columns; the oracle reads the
      // same deterministic slice straight off the parquet
      "q_jdbc_roundtrip" ->
        """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
          |       l_returnflag
          |FROM (SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
          |             CAST(l_linenumber AS BIGINT) AS l_linenumber,
          |             CAST(l_quantity AS DOUBLE) AS l_quantity,
          |             CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
          |             l_returnflag
          |      FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 50000) t
          |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      "q_inline_chunks" ->
        s"""SELECT CAST(lo AS BIGINT) AS lo, CAST(hi AS BIGINT) AS hi
           |FROM (VALUES ($Start, 820454400), (820454400, 852076800),
           |             (852076800, ${GraftConfig.Sentinel})) t(lo, hi)
           |ORDER BY lo""".stripMargin,
      "q_append_sink" ->
        """SELECT l_orderkey, l_linenumber, l_returnflag
          |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_returnflag""".stripMargin,
      // committed view = batches 0 and 1 exactly once; the replayed batch 0
      // and the crashed (markerless) batch 2 contribute nothing
      "q_sink_committed_view" ->
        """SELECT l_orderkey, l_linenumber, l_returnflag
          |FROM lineitem WHERE l_orderkey % 3 IN (0, 1)
          |ORDER BY l_orderkey, l_linenumber, l_returnflag""".stripMargin,
      "q_text_sources" ->
        """SELECT l_returnflag,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS json_qty,
          |  count(*) AS json_n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS csv_qty,
          |  count(*) AS csv_n
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q7_volume_shipping" ->
        """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
          |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation n1 ON s_nationkey = n1.n_nationkey
          |JOIN nation n2 ON c_nationkey = n2.n_nationkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1998-01-01'
          |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      "q10_returned_items" ->
        """SELECT c_custkey, c_name, n_name,
          |       CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE l_returnflag = 'R'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
      "q14_promo_revenue" ->
        """SELECT
          |  CAST(sum(CASE WHEN p_type = 'PROMO'
          |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
          |    ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE) AS promo_rev,
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS total_rev,
          |  count(*) AS n_lines,
          |  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
          |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
          |    ELSE CAST(0 AS DECIMAL(28,10)) END) AS DOUBLE)
          |    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS promo_share_pct
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
      "q19_disjunctive" ->
        """SELECT
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS revenue,
          |  count(*) AS n_lines
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
          |       AND l_quantity BETWEEN 1 AND 20)
          |   OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30
          |       AND l_quantity BETWEEN 10 AND 35)
          |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 50
          |       AND l_quantity BETWEEN 20 AND 50)""".stripMargin,
      "q12_priority_shipping" ->
        """SELECT l_returnflag,
          |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1997-01-01'
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q18_large_orders" ->
        """WITH big AS (
          |  SELECT l_orderkey,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |  FROM lineitem GROUP BY l_orderkey
          |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150),
          |sel AS (
          |  SELECT c_custkey, o_orderkey,
          |    CAST(o_totalprice AS DOUBLE) AS o_totalprice, sum_qty
          |  FROM orders JOIN big ON o_orderkey = l_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 20)
          |SELECT * FROM sel ORDER BY o_orderkey""".stripMargin,
      "q4_order_priority" ->
        """SELECT o_orderpriority, count(*) AS order_count
          |FROM orders o
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1996-04-01'
          |  AND EXISTS (SELECT 1 FROM lineitem l
          |              WHERE l.l_orderkey = o.o_orderkey
          |                AND l.l_shipdate > o.o_orderdate)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q6_forecast_revenue" ->
        """SELECT
          |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,10))) AS DOUBLE) AS revenue,
          |  count(*) AS n_lines
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1997-01-01'
          |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
      // sums re-round to DECIMAL scale 4 before the double cast: DuckDB's
      // decimal(38,10)->double cast double-rounds past 2^53; at scale 4 the
      // cast is exact in both engines
      "q8_market_share" ->
        """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
          |  CAST(CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
          |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
          |    ELSE CAST(0 AS DECIMAL(28,10)) END) AS DECIMAL(28,4)) AS DOUBLE) AS nation_rev,
          |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DECIMAL(28,4)) AS DOUBLE) AS total_rev,
          |  CAST(CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
          |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))
          |    ELSE CAST(0 AS DECIMAL(28,10)) END) AS DECIMAL(28,4)) AS DOUBLE)
          |   / CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DECIMAL(28,4)) AS DOUBLE) AS mkt_share
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation cn ON c_nationkey = cn.n_nationkey
          |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation sn ON s_nationkey = sn.n_nationkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q13_cust_distribution" ->
        """WITH per_cust AS (
          |  SELECT o_custkey, count(*) AS c_count FROM orders
          |  WHERE o_orderpriority <> '1-URGENT' GROUP BY o_custkey)
          |SELECT coalesce(c_count, 0) AS c_count, count(*) AS custdist
          |FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
          |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
      "q15_top_supplier" ->
        """WITH rev AS (
          |  SELECT l_suppkey,
          |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS total_rev
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY l_suppkey)
          |SELECT s_suppkey, s_name, total_rev
          |FROM rev JOIN supplier ON l_suppkey = s_suppkey
          |WHERE total_rev = (SELECT max(total_rev) FROM rev)
          |ORDER BY s_suppkey""".stripMargin,
      "q17_small_qty_revenue" ->
        """WITH li AS (
          |  SELECT l_partkey, l_quantity, l_extendedprice
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |  WHERE p_brand = 'Brand#4'),
          |avg_qty AS (
          |  SELECT l_partkey AS a_partkey,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
          |  FROM li GROUP BY 1)
          |SELECT
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
          |  count(*) AS n_lines
          |FROM li JOIN avg_qty ON l_partkey = a_partkey
          |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,
      // oracle runs the textbook EXISTS / NOT-EXISTS self-join form; the
      // Spark operator runs the single-pass per-order aggregate
      // reformulation — a hash match proves them equivalent
      "q21_waiting_suppliers" ->
        """WITH sel AS (
          |  SELECT s_suppkey, s_name, count(*) AS numwait
          |  FROM lineitem l1
          |  JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
          |  JOIN supplier ON l1.l_suppkey = s_suppkey
          |  WHERE l1.l_shipdate > o_orderdate
          |    AND EXISTS (SELECT 1 FROM lineitem l2
          |      WHERE l2.l_orderkey = l1.l_orderkey
          |        AND l2.l_suppkey <> l1.l_suppkey)
          |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |      JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
          |      WHERE l3.l_orderkey = l1.l_orderkey
          |        AND l3.l_suppkey <> l1.l_suppkey
          |        AND l3.l_shipdate > o3.o_orderdate)
          |  GROUP BY 1, 2
          |  ORDER BY numwait DESC, s_suppkey LIMIT 25)
          |SELECT * FROM sel ORDER BY s_suppkey""".stripMargin,
      "q22_sales_opportunity" ->
        """WITH avg_bal AS (
          |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
          |  FROM customer WHERE c_acctbal > 0),
          |recent AS (
          |  SELECT DISTINCT o_custkey FROM orders
          |  WHERE o_orderdate >= TIMESTAMP '2000-06-01')
          |SELECT CAST(c_nationkey AS BIGINT) AS nation, count(*) AS numcust,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
          |FROM customer, avg_bal
          |WHERE c_acctbal > avg_bal
          |  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      // Q2/Q16/Q20 run over the derived supply relation (distinct shipped
      // (partkey, suppkey) pairs with min unit price standing in for the
      // absent partsupp table) — both engines derive it identically
      "q2_min_cost_supplier" ->
        """WITH supply AS (
          |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
          |    min(l_extendedprice / l_quantity) AS ps_unit_cost
          |  FROM lineitem GROUP BY 1, 2),
          |es AS (
          |  SELECT s_suppkey, s_name, s_acctbal, n_name
          |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |  JOIN region ON n_regionkey = r_regionkey
          |  WHERE r_name = 'EUROPE'),
          |sup AS (
          |  SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_unit_cost, ps_partkey
          |  FROM supply
          |  JOIN part ON ps_partkey = p_partkey AND p_type = 'ECONOMY'
          |  JOIN es ON ps_suppkey = s_suppkey),
          |mc AS (SELECT ps_partkey AS mc_partkey, min(ps_unit_cost) AS min_cost
          |  FROM sup GROUP BY 1),
          |sel AS (
          |  SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_unit_cost
          |  FROM sup JOIN mc ON ps_partkey = mc_partkey AND ps_unit_cost = min_cost
          |  ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100)
          |SELECT * FROM sel ORDER BY p_partkey, s_name""".stripMargin,
      "q9_product_profit" ->
        """SELECT n_name AS nation, year(l_shipdate) AS o_year,
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
          |      - 0.5 * p_retailprice * l_quantity AS DECIMAL(28,10))) AS DOUBLE)
          |    AS sum_profit
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
      "q11_important_parts" ->
        """WITH supp AS (
          |  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |  WHERE n_name = 'NATION_7'),
          |slice AS (
          |  SELECT l_partkey, l_extendedprice * (1.0 - l_discount) AS v
          |  FROM lineitem JOIN supp ON l_suppkey = s_suppkey),
          |per_part AS (
          |  SELECT l_partkey,
          |    CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) AS part_value
          |  FROM slice GROUP BY 1),
          |total AS (
          |  SELECT CAST(sum(CAST(v AS DECIMAL(28,10))) AS DOUBLE) * 0.001 AS threshold
          |  FROM slice)
          |SELECT l_partkey, part_value FROM per_part, total
          |WHERE part_value > threshold
          |ORDER BY part_value DESC, l_partkey""".stripMargin,
      "q16_supplier_count" ->
        """WITH supply AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
          |SELECT p_brand, p_type, p_size,
          |  count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM supply JOIN part ON l_partkey = p_partkey
          |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'SMALL%'
          |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |GROUP BY 1, 2, 3
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
      // oracle runs the textbook correlated EXISTS form; the Spark operator
      // runs the single conditional-sum pass + LEFT SEMI reformulation
      "q20_promotion_suppliers" ->
        """WITH q AS (
          |  SELECT l_suppkey, l_partkey,
          |    CAST(sum(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
          |        AND l_shipdate < TIMESTAMP '1998-01-01'
          |        THEN l_quantity ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS qty_1997,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_total
          |  FROM lineitem JOIN part ON l_partkey = p_partkey
          |  WHERE p_name LIKE 'small%'
          |  GROUP BY 1, 2)
          |SELECT s_suppkey, s_name, s_acctbal FROM supplier
          |WHERE EXISTS (SELECT 1 FROM q
          |  WHERE l_suppkey = s_suppkey AND qty_1997 > 0.3 * qty_total)
          |ORDER BY s_suppkey""".stripMargin,
      "q_interleave" ->
        """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
          |r AS (SELECT doc_id, lang,
          |    CAST(row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|graft_mix_v1'), doc_id) AS BIGINT)
          |      AS rank_in_stratum
          |  FROM documents)
          |SELECT doc_id, lang, rank_in_stratum,
          |  (CAST(rank_in_stratum AS DOUBLE) - 0.5) / CAST(n AS DOUBLE) AS vtime
          |FROM r JOIN c USING (lang)
          |ORDER BY vtime, lang, rank_in_stratum""".stripMargin,
      "q_admission_report" ->
        s"""WITH $minhashPairCtes,
           |b AS (SELECT doc_id, text,
           |    ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' ' AS n,
           |    CAST(length(text) AS BIGINT) AS len,
           |    CAST(len(list_filter(string_split(text, ' '),
           |          t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
           |      / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS stop_ratio
           |  FROM documents WHERE doc_id % 5 = 0),
           |fl AS (SELECT doc_id,
           |    len(list_filter(['slow join'], p -> contains(n, ' ' || p || ' '))) > 0 AS blocked,
           |    NOT (len BETWEEN 100 AND 520 AND stop_ratio >= 0.03) AS lowq
           |  FROM b),
           |g AS (SELECT doc_id FROM fl WHERE NOT blocked AND NOT lowq),
           |fps AS (SELECT doc_id,
           |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
           |  FROM documents),
           |ex AS (SELECT g.doc_id FROM g JOIN fps bf USING (doc_id)
           |  WHERE bf.fp IN (SELECT fp FROM fps WHERE doc_id % 5 <> 0)
           |  UNION
           |  SELECT doc_id FROM (
           |    SELECT g.doc_id,
           |      row_number() OVER (PARTITION BY bf.fp ORDER BY g.doc_id) AS rn
           |    FROM g JOIN fps bf USING (doc_id)) x WHERE rn > 1),
           |h AS (SELECT doc_id FROM g WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
           |nearh AS (SELECT DISTINCT CASE WHEN a_id % 5 = 0 THEN a_id ELSE b_id END AS doc_id
           |  FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5
           |    AND ((a_id % 5 = 0) <> (b_id % 5 = 0))
           |    AND (CASE WHEN a_id % 5 = 0 THEN a_id ELSE b_id END)
           |        IN (SELECT doc_id FROM h)),
           |nearw AS (SELECT DISTINCT b_id AS doc_id FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5
           |    AND a_id % 5 = 0 AND b_id % 5 = 0
           |    AND a_id IN (SELECT doc_id FROM h)
           |    AND b_id IN (SELECT doc_id FROM h)),
           |nd AS (SELECT doc_id FROM nearh UNION SELECT doc_id FROM nearw),
           |staged AS (SELECT fl.doc_id,
           |  CASE WHEN blocked THEN 'blocklist'
           |       WHEN lowq THEN 'quality'
           |       WHEN fl.doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup'
           |       WHEN fl.doc_id IN (SELECT doc_id FROM nd) THEN 'near_dup'
           |       ELSE 'kept' END AS stage
           |  FROM fl)
           |SELECT stage, count(*) AS n_docs FROM staged
           |GROUP BY stage ORDER BY stage""".stripMargin,
      // decimal casts hop through VARCHAR (Spark's double->decimal goes via
      // the shortest string; DuckDB's direct cast uses the full binary
      // expansion) and back out (direct decimal->double double-rounds past
      // 2^53 scaled) — the round-1/alpha-lane lesson
      "q_sample_neyman" ->
        """WITH st AS (SELECT lang, count(*) AS n,
          |    CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) AS s,
          |    CAST(sum(CAST(n_chars * n_chars AS DECIMAL(38,6))) AS DOUBLE) AS ss
          |  FROM documents GROUP BY 1),
          |wt AS (SELECT lang, n,
          |    n * sqrt(greatest((ss - (s * s) / n) / n, 0.0)) AS w,
          |    sqrt(greatest((ss - (s * s) / n) / n, 0.0)) AS sigma
          |  FROM st),
          |t AS (SELECT CAST(CAST(sum(CAST(CAST(w AS VARCHAR) AS DECIMAL(38,12)))
          |                   AS VARCHAR) AS DOUBLE) AS tw FROM wt),
          |q AS (SELECT lang, CAST(floor(CAST(120 AS DOUBLE) * w / tw) AS BIGINT) AS quota,
          |    n AS stratum_n, sigma AS stratum_sigma
          |  FROM wt CROSS JOIN t),
          |r AS (SELECT doc_id, lang,
          |    CAST(row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|graft_neyman_v1'), doc_id)
          |      AS BIGINT) AS sel_rk
          |  FROM documents)
          |SELECT doc_id, lang, sel_rk, stratum_n, stratum_sigma
          |FROM r JOIN q USING (lang) WHERE sel_rk <= quota
          |ORDER BY lang, sel_rk""".stripMargin,
      "q_sample_alpha" ->
        """WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
          |w AS (SELECT lang, sqrt(CAST(c AS DOUBLE)) AS w FROM c),
          |t AS (SELECT CAST(CAST(sum(CAST(CAST(w AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS tw FROM w),
          |q AS (SELECT lang, CAST(floor(200.0 * w / tw) AS BIGINT) AS quota
          |      FROM w CROSS JOIN t),
          |r AS (SELECT doc_id, lang,
          |    CAST(row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|graft_mix_v1'), doc_id) AS BIGINT) AS mix_rk
          |  FROM documents)
          |SELECT doc_id, lang, mix_rk FROM r JOIN q USING (lang)
          |WHERE mix_rk <= quota ORDER BY doc_id""".stripMargin,
      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS sum_disc_price,
          |  count(*) AS count_order,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q3_shipping_priority" ->
        """SELECT l_orderkey, o_orderdate, o_orderpriority,
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |  AND o_orderdate < TIMESTAMP '1998-03-15'
          |  AND l_shipdate > TIMESTAMP '1995-03-15'
          |GROUP BY l_orderkey, o_orderdate, o_orderpriority
          |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
      "q5_local_supplier" ->
        """SELECT n_name,
          |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DOUBLE) AS revenue
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1998-01-01'
          |GROUP BY n_name ORDER BY n_name""".stripMargin,
      "q_topk_per_group" ->
        """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
          |  SELECT o_orderpriority, o_orderkey, o_totalprice,
          |         CAST(rank() OVER (PARTITION BY o_orderpriority
          |                           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
          |  FROM orders
          |) t WHERE rk <= 3 ORDER BY o_orderpriority, rk, o_orderkey""".stripMargin,
      // typed Aggregator form — must equal the window form row-for-row
      "q_topk_agg" ->
        """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
          |  SELECT o_orderpriority, o_orderkey, o_totalprice,
          |         CAST(rank() OVER (PARTITION BY o_orderpriority
          |                           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
          |  FROM orders
          |) t WHERE rk <= 3 ORDER BY o_orderpriority, rk, o_orderkey""".stripMargin,
      "q_window_battery" ->
        """SELECT o_orderpriority, o_orderkey, o_totalprice,
          |  CAST(dense_rank() OVER w AS BIGINT) AS w_dense_rank,
          |  percent_rank() OVER w AS w_percent_rank,
          |  cume_dist() OVER w AS w_cume_dist,
          |  CAST(ntile(4) OVER w AS BIGINT) AS w_ntile,
          |  lag(o_orderkey, 1) OVER w AS w_lag_key,
          |  lead(o_orderkey, 1, -1) OVER w AS w_lead_key,
          |  first_value(o_orderkey) OVER
          |    (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_first_key,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
          |    (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS w_running_total,
          |  count(*) OVER
          |    (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
          |     ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS w_neighbors
          |FROM orders WHERE o_custkey <= 30
          |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
          |ORDER BY o_orderpriority, w_dense_rank, o_orderkey""".stripMargin,
      "q_setops" ->
        """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          | UNION
          | SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
          |EXCEPT
          |SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
          |ORDER BY c_custkey""".stripMargin,
      "q_subqueries" ->
        """SELECT o_orderkey,
          |  EXISTS(SELECT 1 FROM lineitem
          |         WHERE l_orderkey = o_orderkey AND l_quantity > 45) AS has_big,
          |  o_orderkey IN (SELECT l_orderkey FROM lineitem
          |                 WHERE l_returnflag = 'R') AS has_return,
          |  o_orderkey NOT IN (SELECT l_orderkey
          |                     FROM lineitem WHERE l_returnflag = 'A') AS not_in_a,
          |  (SELECT count(*) FROM lineitem
          |   WHERE l_orderkey = o_orderkey) AS n_items,
          |  (SELECT max(l_quantity) FROM lineitem
          |   WHERE l_orderkey = o_orderkey) AS max_qty,
          |  (SELECT count(*) FROM orders o2
          |   WHERE o2.o_orderkey NOT IN
          |     (SELECT CASE WHEN l_quantity > 49 THEN NULL ELSE l_orderkey END
          |      FROM lineitem)) AS n_null_trap
          |FROM orders ORDER BY o_orderkey""".stripMargin,
      "q_semi_anti" ->
        """SELECT c_custkey, true AS has_orders FROM customer c
          |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
          |UNION ALL
          |SELECT c_custkey, false AS has_orders FROM customer c
          |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
          |ORDER BY c_custkey""".stripMargin,
      "q_distinct_agg" ->
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
          |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q_rollup" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
      "q_text_tokens" ->
        """SELECT doc_id,
          |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
          |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
          |  CAST(length(text) AS BIGINT) AS n_chars_txt
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_text_quality" ->
        """SELECT doc_id,
          |  CAST(length(text) AS BIGINT) AS len,
          |  CAST(length(regexp_replace(text, '[a-z0-9\s]', '', 'g')) AS DOUBLE)
          |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
          |  CAST(len(list_filter(string_split(text, ' '),
          |        t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
          |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS stop_ratio,
          |  CAST(length(text) AS DOUBLE)
          |    / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS chars_per_token
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_classifier_score" ->
        """WITH model AS (
          |  SELECT CAST(f AS BIGINT) AS feature_id,
          |         CAST('0x' || substr(md5('w:' || CAST(f AS VARCHAR)), 1, 15) AS BIGINT)
          |           % 2001 - 1000 AS weight
          |  FROM (SELECT unnest(range(0, 1024)) AS f)),
          |toks AS (
          |  SELECT doc_id,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |feat AS (
          |  SELECT doc_id,
          |         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS feature_id
          |  FROM toks, LATERAL (SELECT unnest(w) AS tok) t)
          |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
          |       CAST(sum(m.weight) AS BIGINT) AS score,
          |       sum(m.weight) > 0 AS label
          |FROM feat f JOIN model m USING (feature_id)
          |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,
      // both rankings re-derived to depth 20, fused by 1/(60+rank) in fixed
      // (text, vector) addition order — rank-based, so no score calibration
      "q_hybrid_rrf" ->
        s"""WITH tok AS (
           |  SELECT doc_id, tok, count(*) AS tf FROM (
           |    SELECT doc_id,
           |      unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
           |    FROM documents) x GROUP BY doc_id, tok),
           |n AS (SELECT count(*) AS n_docs FROM documents),
           |dfq AS (SELECT tok, (n_docs - count(*) + 0.5) / (count(*) + 0.5) AS w
           |        FROM tok CROSS JOIN n GROUP BY tok, n_docs),
           |wt AS (SELECT doc_id, tok.tok AS tok, w * tf AS wt
           |       FROM tok JOIN dfq ON tok.tok = dfq.tok),
           |norms AS (SELECT doc_id,
           |    sqrt(CAST(sum(CAST(wt * wt AS DECIMAL(38,8))) AS DOUBLE)) AS norm
           |  FROM wt GROUP BY doc_id),
           |dot AS (SELECT q.doc_id AS q_id, c.doc_id AS n_id,
           |    CAST(sum(CAST(q.wt * c.wt AS DECIMAL(38,8))) AS DOUBLE) AS dot
           |  FROM wt q JOIN wt c ON q.tok = c.tok
           |  WHERE q.doc_id < 8 AND q.doc_id <> c.doc_id
           |  GROUP BY q_id, n_id),
           |tscored AS (SELECT q_id, n_id, dot / (qn.norm * nn.norm) AS sim
           |  FROM dot
           |  JOIN norms qn ON qn.doc_id = q_id
           |  JOIN norms nn ON nn.doc_id = n_id),
           |trank AS (SELECT q_id, n_id,
           |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS text_rk
           |  FROM tscored QUALIFY text_rk <= 20),
           |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |  FROM embeddings),
           |vs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${cosSql("q.emb", "c.emb")} AS cos
           |  FROM v c CROSS JOIN v q WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
           |vrank AS (SELECT q_id, n_id,
           |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS vec_rk
           |  FROM vs QUALIFY vec_rk <= 20),
           |fused AS (SELECT coalesce(t.q_id, vr.q_id) AS q_id,
           |    coalesce(t.n_id, vr.n_id) AS n_id, t.text_rk, vr.vec_rk,
           |    coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(t.text_rk AS DOUBLE)), CAST(0 AS DOUBLE))
           |      + coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(vr.vec_rk AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf
           |  FROM trank t FULL OUTER JOIN vrank vr
           |    ON t.q_id = vr.q_id AND t.n_id = vr.n_id),
           |r AS (SELECT q_id, n_id, text_rk, vec_rk, rrf,
           |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, n_id) AS BIGINT) AS rk
           |  FROM fused)
           |SELECT q_id, rk, n_id, text_rk, vec_rk, rrf FROM r WHERE rk <= 5
           |ORDER BY q_id, rk""".stripMargin,
      // sign-bit signatures in two 32-bit halves (1<<63 overflows checked
      // engines); Hamming funnel then exact-cosine rerank
      "q_sim_topk_binary" ->
        s"""WITH v AS (SELECT vec_id, embedding,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |  FROM embeddings),
           |sg AS (SELECT vec_id, emb,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 32)),
           |      (a, i) -> a | (CASE WHEN embedding[CAST(i AS INT) + 1] > 0
           |        THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)) AS lo,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, 32)),
           |      (a, i) -> a | (CASE WHEN embedding[CAST(i AS INT) + 33] > 0
           |        THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)) AS hi
           |  FROM v),
           |h AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.emb AS q_emb, c.emb AS n_emb,
           |    CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS hamming
           |  FROM sg c CROSS JOIN sg q
           |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
           |cand AS (SELECT * FROM (SELECT *,
           |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS hrk
           |  FROM h) x WHERE hrk <= 20),
           |s AS (SELECT q_id, n_id, hamming, ${cosSql("q_emb", "n_emb")} AS cos FROM cand),
           |r AS (SELECT q_id, n_id, hamming, cos,
           |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
           |  FROM s)
           |SELECT q_id, rk, n_id, hamming, cos FROM r WHERE rk <= 5
           |ORDER BY q_id, rk""".stripMargin,
      "q_retrieval_eval" ->
        s"""WITH v AS (SELECT vec_id, label,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |  FROM embeddings),
           |s AS (SELECT q.vec_id AS q_id, q.label AS q_label,
           |    c.vec_id AS n_id, c.label AS n_label,
           |    ${cosSql("q.emb", "c.emb")} AS cos
           |  FROM v q CROSS JOIN v c
           |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
           |r AS (SELECT *, row_number() OVER
           |    (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk FROM s),
           |t AS (SELECT q_id, q_label,
           |    CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_at_k,
           |    max(CASE WHEN n_label = q_label THEN CAST(1 AS DOUBLE) / rk END) AS mrr0
           |  FROM r WHERE rk <= 10 GROUP BY 1, 2),
           |z AS (SELECT label, count(*) AS n_label FROM v GROUP BY 1)
           |SELECT q_id, CAST(q_label AS BIGINT) AS q_label, n_rel_at_k,
           |  CAST(n_rel_at_k AS DOUBLE) / CAST(10 AS DOUBLE) AS precision_at_k,
           |  CAST(n_rel_at_k AS DOUBLE) / CAST(n_label - 1 AS DOUBLE) AS recall_at_k,
           |  coalesce(mrr0, CAST(0 AS DOUBLE)) AS mrr
           |FROM t JOIN z ON q_label = label ORDER BY q_id""".stripMargin,
      // int8 codes: floor(x * (127/max|x|)) — integer dot products are
      // exact, so the coarse candidate set matches the operator bit-for-bit
      "q_sim_topk_sq" ->
        s"""WITH v AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |  FROM embeddings),
           |m AS (SELECT vec_id, emb,
           |    list_max(list_transform(emb, x -> abs(x))) AS max_abs FROM v),
           |codes AS (SELECT vec_id, emb,
           |    list_transform(emb, x -> CASE WHEN max_abs = 0 THEN CAST(0 AS BIGINT)
           |      ELSE CAST(floor(x * (127.0 / max_abs)) AS BIGINT) END) AS qv
           |  FROM m),
           |sc AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |    q.emb AS q_emb, c.emb AS n_emb,
           |    list_reduce(list_prepend(CAST(0 AS BIGINT),
           |      list_transform(range(1, 65),
           |        i -> q.qv[CAST(i AS INT)] * c.qv[CAST(i AS INT)])),
           |      (a, b) -> a + b) AS iscore
           |  FROM codes c CROSS JOIN codes q
           |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
           |cand AS (SELECT * FROM (SELECT *,
           |    row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, n_id) AS crk
           |  FROM sc) x WHERE crk <= 20),
           |s AS (SELECT q_id, n_id, iscore, ${cosSql("q_emb", "n_emb")} AS cos FROM cand),
           |r AS (SELECT q_id, n_id, iscore, cos,
           |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
           |  FROM s)
           |SELECT q_id, rk, n_id, iscore, cos FROM r WHERE rk <= 5
           |ORDER BY q_id, rk""".stripMargin,
      "q_sim_topk_mrl" ->
        s"""WITH v AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |  FROM embeddings),
           |h AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.emb AS q_emb, c.emb AS n_emb,
           |    ${cosSqlN("q.emb", "c.emb", 8)} AS pre_cos
           |  FROM v c CROSS JOIN v q
           |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
           |cand AS (SELECT * FROM (SELECT *,
           |    row_number() OVER (PARTITION BY q_id ORDER BY pre_cos DESC, n_id) AS prk
           |  FROM h) x WHERE prk <= 20),
           |s AS (SELECT q_id, n_id, pre_cos, ${cosSql("q_emb", "n_emb")} AS cos FROM cand),
           |r AS (SELECT q_id, n_id, pre_cos, cos,
           |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
           |  FROM s)
           |SELECT q_id, rk, n_id, pre_cos, cos FROM r WHERE rk <= 5
           |ORDER BY q_id, rk""".stripMargin,
      "q_sim_maxsim" -> {
        val maxSim = (0 until 4).map { i =>
          "greatest(" + (0 until 4).map(j =>
            cosSqlSub("q_emb", "n_emb", i * 16, j * 16, 16)).mkString(", ") + ")"
        }.mkString(" + ")
        s"""WITH v AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |  FROM embeddings),
           |h AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, q.emb AS q_emb, c.emb AS n_emb,
           |    ${cosSql("q.emb", "c.emb")} AS pool_cos
           |  FROM v c CROSS JOIN v q
           |  WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
           |cand AS (SELECT * FROM (SELECT *,
           |    row_number() OVER (PARTITION BY q_id ORDER BY pool_cos DESC, n_id) AS prk
           |  FROM h) x WHERE prk <= 20),
           |s AS (SELECT q_id, n_id, pool_cos, $maxSim AS maxsim FROM cand),
           |r AS (SELECT q_id, n_id, pool_cos, maxsim,
           |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY maxsim DESC, n_id) AS BIGINT) AS rk
           |  FROM s)
           |SELECT q_id, rk, n_id, pool_cos, maxsim FROM r WHERE rk <= 5
           |ORDER BY q_id, rk""".stripMargin
      },
      // centroid means mirror Spark's cast(double as decimal(28,12)) + exact
      // decimal sum via the VARCHAR hop (the ivfCtes discipline); the cosine
      // folds in dimension order (cosSql)
      "q_centroid_filter" ->
        s"""WITH ve AS (SELECT label, CAST(i - 1 AS INT) AS dim,
           |    CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
           |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
           |c AS (SELECT label, dim,
           |    CAST(CAST(sum(CAST(CAST(v AS VARCHAR) AS DECIMAL(28,12))) AS VARCHAR) AS DOUBLE)
           |      / count(*) AS c
           |  FROM ve GROUP BY label, dim),
           |cl AS (SELECT label, list(c ORDER BY dim) AS cent FROM c GROUP BY label),
           |v AS (SELECT vec_id, label,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |  FROM embeddings),
           |s AS (SELECT vec_id, v.label AS label,
           |    ${cosSql("v.emb", "cl.cent")} AS cos_centroid
           |  FROM v JOIN cl ON v.label = cl.label),
           |r AS (SELECT vec_id, label, cos_centroid,
           |    CAST(row_number() OVER (PARTITION BY label
           |      ORDER BY cos_centroid, vec_id) AS BIGINT) AS rk
           |  FROM s)
           |SELECT vec_id, label, cos_centroid, rk, rk <= 10 AS is_outlier
           |FROM r ORDER BY vec_id""".stripMargin,
      "q_compaction_plan" ->
        """WITH f AS (SELECT source AS part, doc_id AS file_id, n_chars AS bytes
          |  FROM documents),
          |a AS (SELECT part, file_id, bytes,
          |    coalesce(sum(bytes) OVER (PARTITION BY part ORDER BY file_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS byte_start
          |  FROM f),
          |b AS (SELECT part, file_id, bytes, byte_start,
          |    byte_start // 1000 AS bin FROM a)
          |SELECT part, CAST(bin AS BIGINT) AS bin, count(*) AS n_files,
          |  CAST(sum(bytes) AS BIGINT) AS bytes_total,
          |  min(file_id) AS first_file, max(file_id) AS last_file,
          |  CAST(sum(bytes) AS BIGINT) < 1000 AS undersized
          |FROM b GROUP BY part, bin ORDER BY part, bin""".stripMargin,
      "q_join_cardinality" ->
        """WITH la AS (SELECT user_id, count(*) AS ca FROM events GROUP BY user_id),
          |rb AS (SELECT user_id, count(*) AS cb FROM events
          |       WHERE event_type <> 'view' GROUP BY user_id),
          |c AS (SELECT la.user_id, ca * cb AS contrib FROM la JOIN rb USING (user_id))
          |SELECT count(*) AS n_matching_keys,
          |       CAST(sum(contrib) AS BIGINT) AS est_rows,
          |       CAST(max(contrib) AS BIGINT) AS max_key_rows,
          |       CAST(max(contrib) AS DOUBLE) / CAST(sum(contrib) AS DOUBLE) AS max_key_share
          |FROM c""".stripMargin,
      "q_fertility" ->
        """WITH t AS (SELECT lang,
          |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws,
          |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe
          |  FROM documents)
          |SELECT lang, count(*) AS n_docs,
          |  CAST(sum(ws) AS BIGINT) AS ws_tokens,
          |  CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
          |  CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS fertility
          |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
      "q_domain_report" ->
        """WITH d AS (SELECT source,
          |    n_chars,
          |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
          |  FROM documents),
          |a AS (SELECT source, count(*) AS n_docs,
          |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |    CAST(count(CASE WHEN n_chars < 120 THEN 1 END) AS BIGINT) AS n_short,
          |    CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dups
          |  FROM d GROUP BY source)
          |SELECT source, n_docs, total_chars, n_short, n_dups,
          |  CASE WHEN n_short * 5 > n_docs THEN 'short_heavy'
          |       WHEN n_dups * 10 > n_docs THEN 'dup_heavy'
          |       ELSE 'keep' END AS verdict
          |FROM a ORDER BY source""".stripMargin,
      // HLL estimates aren't engine-reproducible; the oracle checks the
      // exact report AND pins the accuracy/verdict-agreement booleans TRUE
      // (and verdict_est == verdict, which agreement implies) — the
      // q_table_profile_approx pattern
      "q_domain_report_approx" ->
        """WITH d AS (SELECT source,
          |    n_chars,
          |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
          |  FROM documents),
          |a AS (SELECT source, count(*) AS n_docs,
          |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |    CAST(count(CASE WHEN n_chars < 120 THEN 1 END) AS BIGINT) AS n_short,
          |    CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dups
          |  FROM d GROUP BY source)
          |SELECT source, n_docs, total_chars, n_short, n_dups,
          |  CASE WHEN n_short * 5 > n_docs THEN 'short_heavy'
          |       WHEN n_dups * 10 > n_docs THEN 'dup_heavy'
          |       ELSE 'keep' END AS verdict,
          |  CASE WHEN n_short * 5 > n_docs THEN 'short_heavy'
          |       WHEN n_dups * 10 > n_docs THEN 'dup_heavy'
          |       ELSE 'keep' END AS verdict_est,
          |  TRUE AS est_within_tol,
          |  TRUE AS verdict_agrees
          |FROM a ORDER BY source""".stripMargin,
      "q_keywords" ->
        """WITH tok AS (SELECT doc_id, tok, count(*) AS tf
          |  FROM (SELECT doc_id,
          |          unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
          |        FROM documents) GROUP BY doc_id, tok),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |dfr AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
          |wt AS (SELECT tok, df, (n_docs - df + 0.5) / (df + 0.5) AS w
          |  FROM dfr CROSS JOIN n),
          |s AS (SELECT doc_id, t.tok, tf, df, w * CAST(tf AS DOUBLE) AS score
          |  FROM tok t JOIN wt USING (tok)),
          |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
          |    ORDER BY score DESC, tok) AS BIGINT) AS rk FROM s)
          |SELECT doc_id, rk, tok, tf, df, score FROM r WHERE rk <= 3
          |ORDER BY doc_id, rk""".stripMargin,
      // the oracle is the FROM-SCRATCH plan restricted to the new batch —
      // valid because new ids sort after history ids within every dir;
      // matching it proves the incremental form loses nothing
      "q_compaction_incr" ->
        """WITH f AS (SELECT source AS part, doc_id AS file_id, n_chars AS bytes
          |  FROM documents),
          |a AS (SELECT part, file_id, bytes,
          |    coalesce(sum(bytes) OVER (PARTITION BY part ORDER BY file_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS byte_start
          |  FROM f)
          |SELECT part, file_id, bytes, CAST(byte_start AS BIGINT) AS byte_start,
          |  CAST(byte_start // 1000 AS BIGINT) AS bin
          |FROM a WHERE file_id >= 250 ORDER BY part, file_id""".stripMargin,
      // exponentiated PMI (lift) keeps the ranking of PMI without ln; the
      // double expression order matches Spark's exactly
      "q_collocations" ->
        """WITH d AS (SELECT doc_id,
          |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |pairs AS (SELECT w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
          |  FROM d, LATERAL (SELECT unnest(range(1, len(w))) AS i) t),
          |bi AS (SELECT w1, w2, count(*) AS c_ab FROM pairs GROUP BY w1, w2
          |       HAVING count(*) >= 5),
          |uni AS (SELECT tok, count(*) AS c
          |  FROM (SELECT unnest(w) AS tok FROM d) GROUP BY tok),
          |nn AS (SELECT count(*) AS n FROM pairs),
          |lift AS (SELECT w1, w2, c_ab, ua.c AS c_a, ub.c AS c_b,
          |    (CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE))
          |      / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
          |  FROM bi JOIN uni ua ON ua.tok = w1 JOIN uni ub ON ub.tok = w2
          |  CROSS JOIN nn),
          |sel AS (SELECT * FROM lift ORDER BY lift DESC, w1, w2 LIMIT 30)
          |SELECT w1, w2, c_ab, c_a, c_b, lift FROM sel ORDER BY w1, w2""".stripMargin,
      "q_blocklist_filter" ->
        """WITH d AS (SELECT doc_id,
          |    ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' ' AS n
          |  FROM documents),
          |h AS (SELECT doc_id,
          |    list_filter(['slow join', 'fast scan', 'merge batch part', 'purple elephant'],
          |                p -> contains(n, ' ' || p || ' ')) AS hits
          |  FROM d)
          |SELECT doc_id, len(hits) > 0 AS blocked, hits[1] AS hit
          |FROM h ORDER BY doc_id""".stripMargin,
      // weights are smoothed probability RATIOS (no ln — transcendentals are
      // not engine-portable); the per-doc fold runs in token order via the
      // 1-row weight MAP, mirroring Spark's aggregate(transform(...))
      "q_dsir_select" ->
        """WITH toks AS (SELECT doc_id, source,
          |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |feat AS (SELECT doc_id, source,
          |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256 AS f
          |  FROM toks, LATERAL (SELECT unnest(w) AS tok) t),
          |cnt AS (SELECT f, count(*) AS r,
          |    sum(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS tt
          |  FROM feat GROUP BY f),
          |tot AS (SELECT sum(r) AS rr, sum(tt) AS tz FROM cnt),
          |wt AS (SELECT f, ((tt + 1.0) / (tz + 256.0)) / ((r + 1.0) / (rr + 256.0)) AS wgt
          |  FROM cnt CROSS JOIN tot),
          |wm AS (SELECT map(list(f ORDER BY f), list(wgt ORDER BY f)) AS m FROM wt),
          |sc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
          |    list_reduce(list_prepend(0.0, list_transform(w,
          |      tok -> map_extract(m, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256)[1])),
          |      (a, b) -> a + b) AS score
          |  FROM toks CROSS JOIN wm),
          |sel AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 150)
          |SELECT doc_id, n_tokens, score FROM sel ORDER BY doc_id""".stripMargin,
      "q_lang_id" ->
        """WITH s AS (
          |  SELECT doc_id,
          |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('der','und','die'))) AS BIGINT) AS s_de,
          |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('the','a','and'))) AS BIGINT) AS s_en,
          |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('el','la','y'))) AS BIGINT) AS s_es,
          |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('le','et','les'))) AS BIGINT) AS s_fr,
          |    CAST(len(list_filter(string_split(lower(text), ' '), t -> t IN ('de','shi','le'))) AS BIGINT) AS s_zh
          |  FROM documents)
          |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
          |  CASE WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
          |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'de'
          |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'fr'
          |       WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN 'es'
          |       ELSE 'zh' END AS pred_lang
          |FROM s ORDER BY doc_id""".stripMargin,
      "q_fingerprint" ->
        """WITH n AS (
          |  SELECT doc_id,
          |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
          |  FROM documents)
          |SELECT doc_id, md5(norm) AS fp_md5,
          |  list_reduce(
          |    list_prepend(CAST(0 AS BIGINT),
          |      list_transform(range(1, length(norm) + 1),
          |                     i -> CAST(ascii(substr(norm, CAST(i AS INT), 1)) AS BIGINT))),
          |    (a, b) -> (a * 31 + b) % 1000000007) AS fp_roll
          |FROM n ORDER BY doc_id""".stripMargin,
      // dirty suffix: tab + decomposed 'e'+U+0301 + newline + double spaces;
      // nfc_normalize composes, \s+ collapse + trim cleans — parity with the
      // Spark native NfcNormalize expression is byte-exact (md5-compared)
      "q_text_normalize" ->
        ("""WITH d AS (SELECT doc_id,
           |  substr(text, 1, 40) || chr(9) || 'cafe' || chr(769) || ' ' || chr(10) || ' x' AS dirty
           |  FROM documents),
           |c AS (SELECT doc_id, CAST(length(dirty) AS BIGINT) AS n_cp_dirty,
           |        trim(regexp_replace(nfc_normalize(dirty), '\s+', ' ', 'g')) AS clean
           |      FROM d)
           |SELECT doc_id, n_cp_dirty, clean,
           |       CAST(length(clean) AS BIGINT) AS n_cp_clean, md5(clean) AS clean_md5
           |FROM c ORDER BY doc_id""").stripMargin,
      "q_decontaminate" ->
        ("""WITH d AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM documents),
           |g AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 7, 1) + 1),
           |        i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 7), ' '))) AS g FROM d),
           |bench AS (SELECT DISTINCT unnest(g) AS gram FROM g WHERE doc_id % 10 = 0),
           |train AS (SELECT doc_id, g FROM g WHERE doc_id % 10 <> 0),
           |hits AS (SELECT t.doc_id, count(*) AS n_hit
           |         FROM (SELECT doc_id, unnest(g) AS gram FROM train) t
           |         JOIN bench USING (gram) GROUP BY t.doc_id)
           |SELECT t.doc_id, CAST(len(t.g) AS BIGINT) AS n_grams,
           |       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           |       coalesce(h.n_hit, 0) > 0 AS contaminated
           |FROM train t LEFT JOIN hits h USING (doc_id)
           |ORDER BY t.doc_id""").stripMargin,
      "q_quality_buckets" ->
        """SELECT CAST(b AS BIGINT) AS bucket,
          |       (SELECT count(*) FROM documents) AS n_total,
          |       TRUE AS ok_size, TRUE AS ok_order
          |FROM range(3) t(b) ORDER BY bucket""".stripMargin,
      "q_decon_attribution" ->
        ("""WITH d AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM documents),
           |g AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 7, 1) + 1),
           |        i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 7), ' '))) AS g FROM d),
           |bench AS (SELECT DISTINCT doc_id AS bench_id, unnest(g) AS gram
           |          FROM g WHERE doc_id % 10 = 0),
           |train AS (SELECT doc_id AS train_id, unnest(g) AS gram
           |          FROM g WHERE doc_id % 10 <> 0)
           |SELECT t.train_id, b.bench_id, count(*) AS n_shared
           |FROM train t JOIN bench b USING (gram)
           |GROUP BY t.train_id, b.bench_id
           |ORDER BY t.train_id, b.bench_id""").stripMargin,
      // cross-set matches derived from the shared MinHash pair chain (band
      // collisions are set-independent, so the self-join pair set restricted
      // to batch~history pairs IS the asymmetric lane's match set)
      "q_dedup_nearhist" ->
        s"""WITH $minhashPairCtes,
           |matched AS (SELECT DISTINCT CASE WHEN a_id % 5 = 0 THEN a_id ELSE b_id END AS doc_id
           |  FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5
           |    AND ((a_id % 5 = 0) <> (b_id % 5 = 0)))
           |SELECT doc_id FROM documents
           |WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM matched)
           |ORDER BY doc_id""".stripMargin,
      // timestamp arithmetic (not float epoch math) on both engines, so
      // sub-second interval boundaries agree exactly
      "q_attribution" ->
        """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
          |  CAST(floor(epoch(c.ts)) AS BIGINT) AS click_sec,
          |  CAST(floor(epoch(v.ts)) AS BIGINT) AS view_sec
          |FROM events c JOIN events v
          |  ON c.user_id = v.user_id
          | AND c.event_type = 'click' AND v.event_type = 'view'
          | AND v.ts >= c.ts - INTERVAL 3600 SECOND AND v.ts <= c.ts
          |ORDER BY click_id, view_id""".stripMargin,
      // fuzzy lane: train docs near-duplicating any bench doc (jac from the
      // shared MinHash pair chain); exact 8-gram lane is q_decontaminate
      "q_decontaminate_fuzzy" ->
        s"""WITH $minhashPairCtes,
           |hits AS (SELECT DISTINCT CASE WHEN a_id % 10 = 0 THEN b_id ELSE a_id END AS doc_id
           |  FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5
           |    AND ((a_id % 10 = 0) <> (b_id % 10 = 0)))
           |SELECT d.doc_id, h.doc_id IS NOT NULL AS contaminated
           |FROM documents d LEFT JOIN hits h USING (doc_id)
           |WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""".stripMargin,
      "q_lm_signal" ->
        """WITH d AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM documents),
          |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
          |        i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 1), ' '))) AS gram FROM d),
          |lm AS (SELECT gram, count(*) AS freq FROM g GROUP BY gram
          |       ORDER BY freq DESC, gram LIMIT 2000)
          |SELECT doc_id,
          |  count(*) AS n_bigrams,
          |  CAST(sum(CASE WHEN freq IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_in_vocab,
          |  CAST(sum(coalesce(freq, 0)) AS BIGINT) AS sum_freq,
          |  CAST(count(*) - sum(CASE WHEN freq IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
          |    / count(*) AS oov_ratio
          |FROM g LEFT JOIN lm USING (gram)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // exact heavy hitters are SQL; the sketch's no-false-negative
      // guarantee surfaces as the TRUE booleans (approxSketches pattern)
      "q_bpe_merges" ->
        s"""WITH ${bpeCtes(4)}
           |SELECT step, merge_left, merge_right, n_pairs FROM (
           |  SELECT CAST(1 AS BIGINT) AS step, l AS merge_left, r AS merge_right, c AS n_pairs FROM m1
           |  UNION ALL SELECT 2, l, r, c FROM m2
           |  UNION ALL SELECT 3, l, r, c FROM m3
           |  UNION ALL SELECT 4, l, r, c FROM m4) t
           |ORDER BY step""".stripMargin,
      "q_bpe_apply" ->
        s"""WITH ${bpeCtes(4)}
           |SELECT d.doc_id,
           |  CAST(len(string_split(trim(regexp_replace(lower(d.text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens_base,
           |  CAST(len(regexp_extract_all(s.seq, '\\(([^()]*)\\)', 1)) AS BIGINT) AS n_tokens_bpe
           |FROM s4 s JOIN documents d USING (doc_id)
           |ORDER BY doc_id""".stripMargin,
      "q_corpus_report" ->
        """WITH s AS (SELECT
          |  count(*) AS n_docs,
          |  count(DISTINCT lang) AS n_langs,
          |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
          |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_ws_tokens,
          |  count(CASE WHEN length(trim(text)) = 0 THEN 1 END) AS n_empty,
          |  count(*) - count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_exact_dups,
          |  CAST(max(n_chars) AS BIGINT) AS max_chars,
          |  CAST(min(n_chars) AS BIGINT) AS min_chars
          |  FROM documents)
          |SELECT stat, CAST(value AS BIGINT) AS value FROM (
          |  SELECT 'n_docs' AS stat, n_docs AS value FROM s
          |  UNION ALL SELECT 'n_langs', n_langs FROM s
          |  UNION ALL SELECT 'total_chars', total_chars FROM s
          |  UNION ALL SELECT 'total_ws_tokens', total_ws_tokens FROM s
          |  UNION ALL SELECT 'n_empty', n_empty FROM s
          |  UNION ALL SELECT 'n_exact_dups', n_exact_dups FROM s
          |  UNION ALL SELECT 'max_chars', max_chars FROM s
          |  UNION ALL SELECT 'min_chars', min_chars FROM s) t
          |ORDER BY stat""".stripMargin,
      "q_heavy_hitters" ->
        """WITH toks AS (SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
          |  FROM documents),
          |n AS (SELECT count(*) AS total FROM toks)
          |SELECT tok, count(*) AS tf, TRUE AS in_sketch
          |FROM toks, n GROUP BY tok, total
          |HAVING CAST(count(*) AS DOUBLE) >= 0.01 * CAST(total AS DOUBLE)
          |ORDER BY tf DESC, tok""".stripMargin,
      // the oracle rebuilds the d x w sketch with the same md5 bucket
      // scheme, so estimates (not just verdicts) hash-match
      "q_cms_accuracy" ->
        """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
          |cells AS (SELECT r,
          |    CAST(('0x' || substr(md5('cms' || r || '_' || token), 1, 8)) AS BIGINT) % 256 AS bucket
          |  FROM tok CROSS JOIN range(0, 4) t(r)),
          |sk AS (SELECT r, bucket, count(*) AS n FROM cells GROUP BY 1, 2),
          |ex AS (SELECT token, count(*) AS exact_n FROM tok
          |       GROUP BY 1 HAVING count(*) >= 400),
          |pr AS (SELECT token, exact_n, r,
          |    CAST(('0x' || substr(md5('cms' || r || '_' || token), 1, 8)) AS BIGINT) % 256 AS bucket
          |  FROM ex CROSS JOIN range(0, 4) t(r))
          |SELECT token, exact_n, min(n) AS est_n,
          |       min(n) - exact_n AS overcount
          |FROM pr JOIN sk USING (r, bucket)
          |GROUP BY token, exact_n ORDER BY token""".stripMargin,
      // result must equal the plain join — salting is pure physical planning
      "q_salted_join" ->
        """SELECT o_orderstatus, count(*) AS n_li,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      "q_skew_report" ->
        """WITH c AS (SELECT user_id, count(*) AS n_rows_key
          |           FROM events GROUP BY user_id),
          |g AS (SELECT count(*) AS nk, sum(n_rows_key) AS nr,
          |             max(n_rows_key) AS mx FROM c)
          |SELECT user_id, n_rows_key,
          |       CAST(n_rows_key AS DOUBLE) / CAST(nr AS DOUBLE) AS share,
          |       CAST(mx AS DOUBLE) * CAST(nk AS DOUBLE) / CAST(nr AS DOUBLE) AS skew_factor
          |FROM c, g ORDER BY n_rows_key DESC, user_id ASC LIMIT 10""".stripMargin,
      "q_drift_report" ->
        """WITH o AS (SELECT lang, count(*) AS n_old FROM documents GROUP BY lang),
          |og AS (SELECT sum(n_old) AS t FROM o),
          |n AS (SELECT lang, count(*) AS n_new FROM documents
          |      WHERE doc_id % 5 <> 0 GROUP BY lang),
          |ng AS (SELECT sum(n_new) AS t FROM n),
          |m AS (SELECT lang,
          |        coalesce(o.n_old, 0) AS n_old, coalesce(n.n_new, 0) AS n_new,
          |        CAST(o.n_old AS DOUBLE) / CAST(og.t AS DOUBLE) AS share_old,
          |        CAST(n.n_new AS DOUBLE) / CAST(ng.t AS DOUBLE) AS share_new
          |      FROM o FULL OUTER JOIN n USING (lang), og, ng)
          |SELECT lang, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
          |       share_old, share_new,
          |       (share_new - share_old) * (share_new - share_old) / share_old AS chi2_term
          |FROM m ORDER BY lang""".stripMargin,
      "q_json_props" ->
        """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
          |FROM events ORDER BY event_id""".stripMargin,
      "q_window_events" ->
        """SELECT date_trunc('hour', ts) AS hour_start, event_type,
          |  count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
      "q_window_sliding" ->
        """WITH e AS (SELECT event_type, value, ts,
          |             date_trunc('hour', ts) AS h FROM events),
          |m AS (SELECT event_type, value,
          |        unnest([h, h - INTERVAL 1 HOUR]) AS win_start FROM e)
          |SELECT win_start, event_type, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          |FROM m GROUP BY win_start, event_type
          |ORDER BY win_start, event_type""".stripMargin,
      // epoch MICROseconds on both sides: no truncation ties in the
      // strict after-previous-stage comparisons
      "q_funnel" ->
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
          |s1 AS (SELECT user_id, min(t) AS t1 FROM e
          |       WHERE event_type = 'view' GROUP BY 1),
          |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
          |       WHERE event_type = 'click' AND t > t1 AND t <= t1 + 604800000000
          |       GROUP BY 1),
          |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 ON e.user_id = s2.user_id
          |       WHERE event_type = 'purchase' AND t > t2 AND t <= t2 + 604800000000
          |       GROUP BY 1),
          |c AS (
          |  SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step,
          |         (SELECT count(*) FROM s1) AS n_users
          |  UNION ALL SELECT CAST(2 AS BIGINT), 'click', (SELECT count(*) FROM s2)
          |  UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM s3))
          |SELECT stage, step, n_users,
          |  CASE WHEN stage = 1 THEN CAST(100.0 AS DOUBLE)
          |       ELSE CAST(100.0 AS DOUBLE) * n_users
          |            / lag(n_users) OVER (ORDER BY stage) END AS pct_prev
          |FROM c ORDER BY stage""".stripMargin,
      "q_cohort_retention" ->
        """WITH uw AS (SELECT DISTINCT user_id,
          |    CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS week FROM events),
          |c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1),
          |s AS (SELECT cohort_week, count(*) AS cohort_n FROM c GROUP BY 1),
          |a AS (SELECT c.cohort_week,
          |        (week - c.cohort_week) // 604800 AS offset_weeks,
          |        count(DISTINCT uw.user_id) AS n_active
          |      FROM uw JOIN c ON uw.user_id = c.user_id GROUP BY 1, 2)
          |SELECT a.cohort_week, offset_weeks, n_active, cohort_n,
          |  CAST(100.0 AS DOUBLE) * n_active / cohort_n AS retention_pct
          |FROM a JOIN s ON a.cohort_week = s.cohort_week
          |ORDER BY a.cohort_week, offset_weeks""".stripMargin,
      "q_trend_report" ->
        """WITH daily AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |ix AS (SELECT event_type,
          |        CAST(day - DATE '2024-01-01' AS BIGINT) AS x, n FROM daily),
          |m AS (SELECT event_type, count(*) AS n_days,
          |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(n) AS BIGINT) AS sy,
          |        CAST(sum(x * n) AS BIGINT) AS sxy,
          |        CAST(sum(x * x) AS BIGINT) AS sxx
          |      FROM ix GROUP BY 1),
          |r AS (SELECT event_type, n_days,
          |        CAST(n_days * sxy - sx * sy AS DOUBLE)
          |          / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope,
          |        sx, sy FROM m)
          |SELECT event_type, n_days, slope,
          |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
          |    / CAST(n_days AS DOUBLE) AS intercept,
          |  CAST(sy AS DOUBLE) / n_days AS mean_daily,
          |  CASE WHEN slope > 0.002 * (CAST(sy AS DOUBLE) / n_days) THEN 'growing'
          |       WHEN slope < -0.002 * (CAST(sy AS DOUBLE) / n_days) THEN 'shrinking'
          |       ELSE 'flat' END AS verdict
          |FROM r ORDER BY event_type""".stripMargin,
      "q_fim_transform" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |b AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n,
          |        CAST(('0x' || substr(md5(doc_id || '_fim'), 1, 13)) AS BIGINT) AS h1,
          |        CAST(('0x' || substr(md5(doc_id || '_fim'), 14, 13)) AS BIGINT) AS h2,
          |        CAST(('0x' || substr(md5(doc_id || '_fim'), 27, 13)) AS BIGINT) AS h3
          |      FROM t),
          |e AS (SELECT doc_id, w, n, h3,
          |        (n >= 4 AND h1 % 100 < 50) AS fim_applied,
          |        CASE WHEN n >= 4 AND h1 % 100 < 50
          |             THEN 1 + h2 % (n - 2) END AS c1
          |      FROM b),
          |f AS (SELECT doc_id, w, n, fim_applied, c1,
          |        CASE WHEN fim_applied
          |             THEN c1 + 1 + h3 % (n - c1 - 1) END AS c2
          |      FROM e)
          |SELECT doc_id, n AS n_tokens, fim_applied, c1, c2,
          |  CASE WHEN fim_applied
          |       THEN '<PRE> ' || array_to_string(w[1:CAST(c1 AS INT)], ' ')
          |         || ' <SUF> ' || array_to_string(w[CAST(c2 + 1 AS INT):CAST(n AS INT)], ' ')
          |         || ' <MID> ' || array_to_string(w[CAST(c1 + 1 AS INT):CAST(c2 AS INT)], ' ')
          |       ELSE array_to_string(w, ' ') END AS fim_text
          |FROM f ORDER BY doc_id""".stripMargin,
      "q_transition_matrix" ->
        """WITH s AS (
          |  SELECT user_id, event_type,
          |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |      AS next_type
          |  FROM events),
          |p AS (SELECT event_type AS from_type, next_type AS to_type,
          |        count(*) AS n
          |      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
          |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
          |      FROM p GROUP BY 1)
          |SELECT from_type, to_type, n, row_total,
          |  CAST(n AS DOUBLE) / row_total AS p
          |FROM p JOIN t USING (from_type)
          |ORDER BY from_type, to_type""".stripMargin,
      "q_rolling_wau" ->
        """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
          |mx AS (SELECT max(day) AS max_day FROM ud),
          |f AS (SELECT user_id, day + CAST(k AS INT) AS win_end
          |      FROM ud CROSS JOIN range(0, 7) r(k))
          |SELECT win_end, count(DISTINCT user_id) AS wau
          |FROM f, mx WHERE win_end <= max_day
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      // expected proportions are the same nine double literals as the
      // operator — no engine evaluates a log
      "q_benford_audit" ->
        """WITH d AS (
          |  SELECT substr(CAST(CAST(abs(o_totalprice) AS DECIMAL(28,6)) AS VARCHAR), 1, 1) AS d
          |  FROM orders),
          |obs AS (SELECT d, count(*) AS n_obs FROM d
          |        WHERE d BETWEEN '1' AND '9' GROUP BY 1),
          |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs),
          |exp_p(d, p_benford) AS (VALUES
          |  ('1', 3.010299956639812e-1), ('2', 1.7609125905568124e-1),
          |  ('3', 1.2493873660829993e-1), ('4', 9.691001300805642e-2),
          |  ('5', 7.918124604762482e-2), ('6', 6.694678963061322e-2),
          |  ('7', 5.799194697768673e-2), ('8', 5.115252244738129e-2),
          |  ('9', 4.575749056067514e-2))
          |SELECT obs.d, n_obs, p_benford * n_total AS n_exp,
          |  (n_obs - p_benford * n_total) * (n_obs - p_benford * n_total)
          |    / (p_benford * n_total) AS chi2_term
          |FROM obs JOIN exp_p ON obs.d = exp_p.d CROSS JOIN tot
          |ORDER BY obs.d""".stripMargin,
      // alpha=1/2 EWMA closed form: integer numerator + bit-shift denominator
      "q_ewma_daily" ->
        """WITH daily AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |ix AS (SELECT event_type, day, n,
          |        CAST(row_number() OVER w - 1 AS BIGINT) AS t,
          |        first_value(n) OVER w AS y0
          |      FROM daily
          |      WINDOW w AS (PARTITION BY event_type ORDER BY day)),
          |x AS (SELECT event_type, day, n, t, y0,
          |        CAST(sum(CASE WHEN t = 0 THEN 0
          |          ELSE (CAST(1 AS BIGINT) << CAST(t - 1 AS INT)) * n
          |          END) OVER w2 AS DECIMAL(38,0)) AS run
          |      FROM ix
          |      WINDOW w2 AS (PARTITION BY event_type ORDER BY day))
          |SELECT event_type, day, n,
          |  CAST(y0 + run AS DOUBLE)
          |    / CAST(CAST(1 AS BIGINT) << CAST(t AS INT) AS DOUBLE) AS ewma
          |FROM x ORDER BY event_type, day""".stripMargin,
      // doubled average ranks are integers (2*min_rank + ties - 1); Pearson
      // is affine-invariant, so the rho of the doubled ranks IS Spearman
      "q_spearman" ->
        """WITH r AS (
          |  SELECT l_returnflag,
          |    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
          |      + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx,
          |    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
          |      + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry
          |  FROM lineitem),
          |m AS (SELECT l_returnflag, count(*) AS n,
          |        sum(CAST(rx AS DECIMAL(20,0))) AS sx,
          |        sum(CAST(ry AS DECIMAL(20,0))) AS sy,
          |        sum(CAST(rx * ry AS DECIMAL(30,0))) AS sxy,
          |        sum(CAST(rx * rx AS DECIMAL(30,0))) AS sxx,
          |        sum(CAST(ry * ry AS DECIMAL(30,0))) AS syy
          |      FROM r GROUP BY 1)
          |SELECT l_returnflag, n,
          |  CAST(n * sxy - sx * sy AS DOUBLE)
          |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
          |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS spearman_rho
          |FROM m ORDER BY l_returnflag""".stripMargin,
      "q_inverted_index" ->
        """WITH tok AS (
          |  SELECT DISTINCT doc_id, tok FROM (
          |    SELECT doc_id,
          |      unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
          |    FROM documents) x WHERE tok <> ''),
          |g AS (SELECT tok, count(*) AS df,
          |        array_to_string(list_transform(list_sort(list(doc_id))[1:20],
          |          v -> CAST(v AS VARCHAR)), ',') AS postings
          |      FROM tok GROUP BY tok),
          |sel AS (SELECT * FROM g WHERE df >= 5
          |        ORDER BY df DESC, tok LIMIT 100)
          |SELECT tok, df, postings FROM sel ORDER BY tok""".stripMargin,
      "q_ab_test" ->
        """WITH u AS (SELECT user_id,
          |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
          |         THEN 1 ELSE 0 END AS converted,
          |    CAST(user_id % 2 AS INT) AS arm
          |  FROM events GROUP BY user_id),
          |arms AS (SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS k
          |         FROM u GROUP BY arm),
          |ab AS (SELECT
          |    (SELECT n FROM arms WHERE arm = 0) AS n_a,
          |    (SELECT k FROM arms WHERE arm = 0) AS k_a,
          |    (SELECT n FROM arms WHERE arm = 1) AS n_b,
          |    (SELECT k FROM arms WHERE arm = 1) AS k_b)
          |SELECT n_a, k_a, n_b, k_b,
          |  CAST(k_a AS DOUBLE) / n_a AS p_a,
          |  CAST(k_b AS DOUBLE) / n_b AS p_b,
          |  CAST(k_a + k_b AS DOUBLE) / (n_a + n_b) AS p_pool,
          |  CASE WHEN k_a + k_b > 0 AND k_a + k_b < n_a + n_b THEN
          |  (CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b)
          |    / sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
          |      * (1.0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
          |      * (1.0 / n_a + 1.0 / n_b)) END AS z,
          |  abs(CASE WHEN k_a + k_b > 0 AND k_a + k_b < n_a + n_b THEN
          |  (CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b)
          |    / sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
          |      * (1.0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b))
          |      * (1.0 / n_a + 1.0 / n_b)) END) > 1.96 AS significant
          |FROM ab""".stripMargin,
      "q_outer_join" ->
        """SELECT c_custkey,
          |  CAST(count(o_orderkey) AS BIGINT) AS n_orders,
          |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
          |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
          |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
      "q_full_outer" ->
        """WITH c AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_click
          |           FROM events WHERE event_type = 'click' GROUP BY 1),
          |v AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_view
          |      FROM events WHERE event_type = 'view' GROUP BY 1)
          |SELECT CAST(day AS VARCHAR) AS day,
          |       coalesce(n_click, 0) AS n_click,
          |       coalesce(n_view, 0) AS n_view
          |FROM c FULL OUTER JOIN v USING (day) ORDER BY day""".stripMargin,
      "q_unpivot" ->
        """WITH a AS (SELECT l_returnflag,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(count(*) AS DOUBLE) AS n_rows,
          |  CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc
          |FROM lineitem GROUP BY 1)
          |SELECT l_returnflag, metric, value FROM (
          |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
          |  UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM a
          |  UNION ALL SELECT l_returnflag, 'avg_disc', avg_disc FROM a) u
          |ORDER BY l_returnflag, metric""".stripMargin,
      "q_string_agg" ->
        """WITH r AS (SELECT c_mktsegment, c_custkey,
          |  row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rk
          |  FROM customer)
          |SELECT c_mktsegment,
          |  string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS first_keys
          |FROM r WHERE rk <= 5 GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin,
      "q_sessionize" ->
        s"""WITH $sessionCtes
           |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           |       count(*) AS n_events, min(ts_sec) AS session_start,
           |       max(ts_sec) AS session_end
           |FROM g GROUP BY user_id, session_seq
           |ORDER BY user_id, session_seq""".stripMargin,
      // deltas collapse per instant BEFORE the running sum (tie-safe);
      // the oracle uses one flat time order — the operator's per-day
      // windows + carry-in offsets must land on the same curve
      "q_peak_concurrency" ->
        s"""WITH $sessionCtes,
           |sess AS (SELECT user_id, session_seq, min(ts_sec) AS session_start,
           |           max(ts_sec) AS session_end
           |         FROM g GROUP BY user_id, session_seq),
           |bounds AS (SELECT session_start AS t, 1 AS d FROM sess
           |  UNION ALL SELECT session_end + 1 AS t, -1 AS d FROM sess),
           |byt AS (SELECT t, CAST(sum(d) AS BIGINT) AS delta FROM bounds GROUP BY t),
           |run AS (SELECT CAST(to_timestamp(t) AS DATE) AS day, t, delta,
           |          CAST(sum(delta) OVER (ORDER BY t
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r
           |        FROM byt),
           |pd AS (SELECT day, CAST(max(r) AS BIGINT) AS mx,
           |         CAST(sum(delta) AS BIGINT) AS dtot FROM run GROUP BY day),
           |days AS (SELECT CAST(unnest(generate_series(min(day), max(day),
           |           INTERVAL 1 DAY)) AS DATE) AS day FROM pd),
           |dn AS (SELECT d.day, pd.mx,
           |         CAST(coalesce(pd.dtot, 0) AS BIGINT) AS dtot
           |       FROM days d LEFT JOIN pd ON d.day = pd.day),
           |cr AS (SELECT day, mx, CAST(coalesce(sum(dtot) OVER (ORDER BY day
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |         AS carry FROM dn)
           |SELECT day, greatest(coalesce(mx, carry), carry) AS peak_concurrency
           |FROM cr ORDER BY day""".stripMargin,
      "q_range_join" ->
        s"""WITH $sessionCtes,
           |sess AS (SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           |                min(ts_sec) AS session_start, max(ts_sec) AS session_end
           |         FROM g GROUP BY user_id, session_seq)
           |SELECT ev.event_id, ev.user_id, s.session_seq
           |FROM (SELECT event_id, user_id,
           |        CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events) ev
           |JOIN sess s ON ev.user_id = s.user_id
           |  AND ev.ts_sec >= s.session_start AND ev.ts_sec < s.session_end + 1
           |ORDER BY ev.event_id""".stripMargin,
      "q_dedup_exact" ->
        """SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
          |       min(doc_id) AS survivor_id, count(*) AS n_members
          |FROM documents GROUP BY fp ORDER BY survivor_id""".stripMargin,
      "q_dedup_events" ->
        """SELECT event_id, user_id, event_type FROM (
          |  SELECT event_id, user_id, event_type,
          |         row_number() OVER (PARTITION BY user_id, event_type
          |                            ORDER BY ts, event_id) AS rn
          |  FROM events) t WHERE rn = 1 ORDER BY event_id""".stripMargin,
      "q_dedup_passage" ->
        s"""WITH $passageSpanCtes
           |SELECT doc_id, n_tokens,
           |       CAST(count(*) AS BIGINT) AS n_dup_spans,
           |       CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_tokens,
           |       CAST(sum(span_end - span_start + 1) AS DOUBLE)
           |         / CAST(n_tokens AS DOUBLE) AS dup_ratio
           |FROM spans GROUP BY doc_id, n_tokens ORDER BY doc_id""".stripMargin,
      "q_scrub_pack" ->
        s"""WITH $passageSpanCtes,
           |tok2 AS (
           |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           |         CAST(i AS BIGINT) AS pos
           |  FROM toks, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t),
           |kept AS (
           |  SELECT t.doc_id, count(*) AS n_kept FROM tok2 t
           |  WHERE NOT EXISTS (SELECT 1 FROM spans s
           |    WHERE s.doc_id = t.doc_id
           |      AND t.pos BETWEEN s.span_start AND s.span_end)
           |  GROUP BY t.doc_id),
           |kf AS (SELECT doc_id, CAST(n_kept AS BIGINT) AS n_tokens
           |       FROM kept WHERE n_kept > 0),
           |r AS (SELECT doc_id, n_tokens,
           |        CAST(sum(n_tokens) OVER (ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |          - n_tokens AS token_start
           |      FROM kf)
           |SELECT doc_id, n_tokens, token_start,
           |       CAST(token_start // 256 AS BIGINT) AS pack_id
           |FROM r ORDER BY doc_id""".stripMargin,
      "q_dedup_scrub" ->
        s"""WITH $passageSpanCtes,
           |tok2 AS (
           |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           |         CAST(i AS BIGINT) AS pos, w[i] AS tok
           |  FROM toks, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t),
           |kept AS (
           |  SELECT t.doc_id, t.pos, t.tok FROM tok2 t
           |  WHERE NOT EXISTS (SELECT 1 FROM spans s
           |    WHERE s.doc_id = t.doc_id
           |      AND t.pos BETWEEN s.span_start AND s.span_end)),
           |ka AS (
           |  SELECT doc_id, count(*) AS n_kept,
           |         string_agg(tok, ' ' ORDER BY pos) AS st
           |  FROM kept GROUP BY doc_id),
           |base AS (SELECT DISTINCT doc_id, n_tokens FROM tok2)
           |SELECT b.doc_id, b.n_tokens,
           |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           |       md5(coalesce(k.st, '')) AS scrub_md5
           |FROM base b LEFT JOIN ka k USING (doc_id)
           |ORDER BY b.doc_id""".stripMargin,
      "q_dedup_incremental" ->
        """WITH f AS (SELECT doc_id,
          |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
          |  FROM documents),
          |h AS (SELECT fp FROM f WHERE doc_id <= 300),
          |b AS (SELECT * FROM f WHERE doc_id > 250)
          |SELECT doc_id FROM b
          |WHERE NOT EXISTS (SELECT 1 FROM h WHERE h.fp = b.fp)
          |ORDER BY doc_id""".stripMargin,
      "q_dedup_minhash" ->
        s"""WITH $minhashPairCtes
           |SELECT a_id, b_id, inter, uni,
           |       CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
           |FROM jac WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5
           |ORDER BY a_id, b_id""".stripMargin,
      // mirrors autoTuneBanding's deterministic pick on the sf0.01 fixture:
      // 500 docs, s95 snapped to 0.01 -> Banding(4 bands x 1 row) = 4 hashes
      "q_dedup_minhash_auto" ->
        s"""WITH ${minhashPairCtesFor(4, 4)}
           |SELECT a_id, b_id, inter, uni,
           |       CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
           |FROM jac WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5
           |ORDER BY a_id, b_id""".stripMargin,
      "q_dedup_clusters" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |pairs AS (SELECT a_id, b_id FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5),
           |edges AS (SELECT a_id, b_id FROM pairs
           |  UNION ALL SELECT b_id, a_id FROM pairs),
           |reach(src, dst) AS (
           |  SELECT DISTINCT a_id, a_id FROM edges
           |  UNION
           |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst)
           |SELECT src AS doc_id, min(dst) AS cluster_id
           |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
      "q_dedup_survivors" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |pairs AS (SELECT a_id, b_id FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5),
           |edges AS (SELECT a_id, b_id FROM pairs
           |  UNION ALL SELECT b_id, a_id FROM pairs),
           |reach(src, dst) AS (
           |  SELECT DISTINCT a_id, a_id FROM edges
           |  UNION
           |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst),
           |losers AS (SELECT src AS doc_id FROM reach
           |  GROUP BY src HAVING src <> min(dst))
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
           |ORDER BY doc_id""".stripMargin,
      // same closure, winner = (n_chars DESC, doc_id ASC) per cluster —
      // mirrors Spark's max(struct(score, -id)) lexicographic pick
      "q_dedup_survivors_quality" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |pairs AS (SELECT a_id, b_id FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5),
           |edges AS (SELECT a_id, b_id FROM pairs
           |  UNION ALL SELECT b_id, a_id FROM pairs),
           |reach(src, dst) AS (
           |  SELECT DISTINCT a_id, a_id FROM edges
           |  UNION
           |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst),
           |clus AS (SELECT src AS doc_id, min(dst) AS cluster_id
           |  FROM reach GROUP BY src),
           |scored AS (SELECT c.doc_id, cluster_id, n_chars
           |  FROM clus c JOIN documents d ON c.doc_id = d.doc_id),
           |win AS (SELECT doc_id FROM (
           |    SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
           |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM scored) t
           |  WHERE rn = 1),
           |losers2 AS (SELECT doc_id FROM scored
           |  WHERE doc_id NOT IN (SELECT doc_id FROM win))
           |SELECT doc_id, n_chars FROM documents
           |WHERE doc_id NOT IN (SELECT doc_id FROM losers2)
           |ORDER BY doc_id""".stripMargin,
      // same closure; singleton clusters via LEFT JOIN, weight = one exact
      // IEEE division
      "q_dedup_soft" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |pairs AS (SELECT a_id, b_id FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5),
           |edges AS (SELECT a_id, b_id FROM pairs
           |  UNION ALL SELECT b_id, a_id FROM pairs),
           |reach(src, dst) AS (
           |  SELECT DISTINCT a_id, a_id FROM edges
           |  UNION
           |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst),
           |clus AS (SELECT src AS doc_id, min(dst) AS cluster_id
           |  FROM reach GROUP BY src),
           |lab AS (SELECT d.doc_id,
           |    coalesce(c.cluster_id, d.doc_id) AS cluster_id
           |  FROM documents d LEFT JOIN clus c ON d.doc_id = c.doc_id),
           |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
           |  FROM lab GROUP BY cluster_id)
           |SELECT l.doc_id, l.cluster_id, s.cluster_size,
           |  CAST(1 AS DOUBLE) / CAST(s.cluster_size AS DOUBLE) AS weight
           |FROM lab l JOIN sz s ON l.cluster_id = s.cluster_id
           |ORDER BY doc_id""".stripMargin,
      // line view = consecutive 2-word chunks (the fixtures are single-line;
      // the operator is grain-agnostic); threshold = 1/20 of the corpus via
      // integer cross-multiply
      "q_line_dedup" ->
        s"""WITH $lineDedupCtes,
           |hot AS (SELECT line FROM df, nd WHERE doc_freq * 20 >= n_docs),
           |kept AS (SELECT * FROM ln
           |  WHERE line NOT IN (SELECT line FROM hot)),
           |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
           |  FROM ln GROUP BY doc_id),
           |rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines,
           |    string_agg(line, ' ' ORDER BY line_no) AS text_kept
           |  FROM kept GROUP BY doc_id)
           |SELECT t.doc_id, t.n_lines,
           |  coalesce(rb.kept_lines, 0) AS kept_lines,
           |  t.n_lines - coalesce(rb.kept_lines, 0) AS dropped_lines,
           |  coalesce(rb.text_kept, '') AS text_kept
           |FROM tot t LEFT JOIN rb ON t.doc_id = rb.doc_id
           |ORDER BY t.doc_id""".stripMargin,
      "q_line_dedup_lines" ->
        s"""WITH $lineDedupCtes
           |SELECT line, doc_freq, n_docs,
           |  CAST(doc_freq AS DOUBLE) / CAST(n_docs AS DOUBLE) AS doc_share
           |FROM df, nd WHERE doc_freq * 20 >= n_docs
           |ORDER BY doc_freq DESC, line""".stripMargin,
      // doc frequency is a sum, so the merged incremental state equals the
      // global state: oracle = the from-scratch scrub restricted to batch
      "q_line_dedup_incr" ->
        s"""WITH $lineDedupCtes,
           |hot AS (SELECT line FROM df, nd WHERE doc_freq * 20 >= n_docs),
           |bln AS (SELECT * FROM ln WHERE doc_id % 5 = 4),
           |kept AS (SELECT * FROM bln
           |  WHERE line NOT IN (SELECT line FROM hot)),
           |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
           |  FROM bln GROUP BY doc_id),
           |rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines,
           |    string_agg(line, ' ' ORDER BY line_no) AS text_kept
           |  FROM kept GROUP BY doc_id)
           |SELECT t.doc_id, t.n_lines,
           |  coalesce(rb.kept_lines, 0) AS kept_lines,
           |  t.n_lines - coalesce(rb.kept_lines, 0) AS dropped_lines,
           |  coalesce(rb.text_kept, '') AS text_kept
           |FROM tot t LEFT JOIN rb ON t.doc_id = rb.doc_id
           |ORDER BY t.doc_id""".stripMargin,
      "q_mannwhitney" ->
        """WITH s AS (SELECT lang AS g, n_chars AS v FROM documents
          |           WHERE lang IN ('en', 'de')),
          |c AS (SELECT v,
          |        count(CASE WHEN g = 'en' THEN 1 END) AS na_v,
          |        count(CASE WHEN g = 'de' THEN 1 END) AS nb_v
          |      FROM s GROUP BY v),
          |c2 AS (SELECT v, na_v, nb_v, na_v + nb_v AS c FROM c),
          |r AS (SELECT *, CAST(coalesce(sum(c) OVER (ORDER BY v
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
          |        + c + 1 AS BIGINT) AS r2 FROM c2),
          |m AS (SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
          |        CAST(sum(nb_v) AS BIGINT) AS n_b,
          |        sum(CAST(na_v * r2 AS DECIMAL(38,0))) AS s2r_a,
          |        sum(CAST(c * c * c - c AS DECIMAL(38,0))) AS ties FROM r),
          |f AS (SELECT n_a, n_b, n_a + n_b AS n, ties,
          |        CAST(CAST(2 AS DECIMAL(38,0)) * CAST(n_a AS DECIMAL(38,0))
          |               * CAST(n_b AS DECIMAL(38,0))
          |             + CAST(n_a AS DECIMAL(38,0))
          |               * CAST(n_a + 1 AS DECIMAL(38,0))
          |          - s2r_a AS DOUBLE) AS u2d,
          |        CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) AS nab FROM m),
          |g AS (SELECT *, nab * (CAST(n + 1 AS DOUBLE)
          |        - CAST(ties AS DOUBLE)
          |          / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) / 12.0
          |        AS sigma2 FROM f)
          |SELECT n_a, n_b, u2d AS u2_a,
          |  (u2d - nab) / (2.0 * sqrt(sigma2)) AS z,
          |  abs((u2d - nab) / (2.0 * sqrt(sigma2))) > 1.96 AS significant
          |FROM g""".stripMargin,
      // same value-grain count ladder as q_mannwhitney; the ECDF gap stays
      // an exact integer cross-product until one final division
      "q_ks_test" ->
        """WITH s AS (SELECT lang AS g, n_chars AS v FROM documents
          |           WHERE lang IN ('en', 'de')),
          |c AS (SELECT v,
          |        count(CASE WHEN g = 'en' THEN 1 END) AS na_v,
          |        count(CASE WHEN g = 'de' THEN 1 END) AS nb_v
          |      FROM s GROUP BY v),
          |cum AS (SELECT v,
          |        sum(na_v) OVER (ORDER BY v) AS ca,
          |        sum(nb_v) OVER (ORDER BY v) AS cb FROM c),
          |t AS (SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
          |             CAST(sum(nb_v) AS BIGINT) AS n_b FROM c),
          |m AS (SELECT max(abs(CAST(ca AS DECIMAL(38,0))
          |                       * CAST(n_b AS DECIMAL(38,0))
          |                   - CAST(cb AS DECIMAL(38,0))
          |                       * CAST(n_a AS DECIMAL(38,0)))) AS d_num,
          |             max(n_a) AS n_a, max(n_b) AS n_b
          |      FROM cum, t),
          |o AS (SELECT n_a, n_b,
          |        CAST(d_num AS DOUBLE)
          |          / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) AS d
          |      FROM m)
          |SELECT n_a, n_b, d,
          |  d * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
          |           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
          |    AS ks_scaled,
          |  d * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
          |           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
          |    > 1.358 AS reject_05
          |FROM o""".stripMargin,
      "q_dedup_jaccard" ->
        s"""WITH $shingleCtes,
           |tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
           |n AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
           |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
           |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT a_id, b_id,
           |  CAST(inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - inter AS DOUBLE) AS jaccard
           |FROM inter
           |JOIN n na ON na.doc_id = a_id
           |JOIN n nb ON nb.doc_id = b_id
           |WHERE CAST(inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - inter AS DOUBLE) >= 0.5
           |ORDER BY a_id, b_id""".stripMargin,
      // brute-force form: the Spark side prunes with a one-sided prefix
      // filter, which is lossless — identical pair set
      "q_containment" ->
        s"""WITH $shingleCtes,
           |tok AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
           |n AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
           |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
           |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT a_id, b_id, inter,
           |  CAST(na.n_sh AS BIGINT) AS n_a, CAST(nb.n_sh AS BIGINT) AS n_b,
           |  CAST(inter AS DOUBLE) / CAST(least(na.n_sh, nb.n_sh) AS DOUBLE) AS containment
           |FROM inter JOIN n na ON na.doc_id = a_id JOIN n nb ON nb.doc_id = b_id
           |WHERE CAST(inter AS DOUBLE) / CAST(least(na.n_sh, nb.n_sh) AS DOUBLE) >= 0.8
           |ORDER BY a_id, b_id""".stripMargin,
      "q_vocab" ->
        """WITH toks AS (SELECT doc_id,
          |  unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
          |  FROM documents),
          |agg AS (SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
          |top AS (SELECT * FROM agg ORDER BY tf DESC, tok LIMIT 50)
          |SELECT CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rank,
          |       tok, tf, df
          |FROM top ORDER BY rank""".stripMargin,
      // naive global-window form; the Spark side's bucketed offsets
      // formulation is bit-identical by construction
      "q_seq_pack" ->
        """WITH t AS (SELECT doc_id,
          |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |r AS (SELECT doc_id, n_tokens,
          |        CAST(sum(n_tokens) OVER (ORDER BY doc_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |          - n_tokens AS token_start
          |      FROM t)
          |SELECT doc_id, n_tokens, token_start,
          |       CAST(token_start // 256 AS BIGINT) AS pack_id
          |FROM r ORDER BY doc_id""".stripMargin,
      // bucket ladder as a CASE chain (no FP log2); batch fill in doc-id
      // order per bucket — integer arithmetic end to end
      "q_length_buckets" ->
        """WITH t AS (SELECT doc_id,
          |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |b AS (SELECT doc_id, n_tokens,
          |  CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
          |       WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
          |       WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
          |       ELSE 1024 END AS bucket FROM t),
          |r AS (SELECT doc_id, n_tokens, bucket,
          |  row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS pos
          |  FROM b),
          |a AS (SELECT bucket, n_tokens,
          |  CAST(pos // (4096 // bucket) AS BIGINT) AS batch_idx,
          |  least(n_tokens, bucket) AS real_t,
          |  bucket - least(n_tokens, bucket) AS pad_t,
          |  n_tokens - least(n_tokens, bucket) AS trunc_t FROM r)
          |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
          |  CAST(max(batch_idx) + 1 AS BIGINT) AS n_batches,
          |  CAST(sum(real_t) AS BIGINT) AS real_tokens,
          |  CAST(sum(pad_t) AS BIGINT) AS padded_tokens,
          |  CAST(sum(trunc_t) AS BIGINT) AS trunc_tokens,
          |  CAST(sum(real_t) AS DOUBLE)
          |    / CAST(sum(real_t) + sum(pad_t) AS DOUBLE) AS fill_frac
          |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin,
      // identical synthesis + RE2-portable normalization chain
      "q_url_canon" ->
        """WITH u AS (SELECT doc_id,
          |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
          |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
          |  'Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM' ||
          |  (CASE WHEN doc_id % 2 = 0 THEN ':80'
          |        WHEN doc_id % 5 = 0 THEN ':8080' ELSE ':443' END) ||
          |  '/Docs//Item/' || CAST(doc_id // 20 AS VARCHAR) ||
          |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
          |  '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR) ||
          |  '&ref=track#Sec' || CAST(doc_id % 7 AS VARCHAR) AS url
          |  FROM documents),
          |c AS (SELECT doc_id,
          |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          |  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
          |  FROM u),
          |hp AS (SELECT doc_id, scheme,
          |  regexp_extract(rest, '^([^/?#]+)', 1) AS hostport,
          |  regexp_replace(rest, '^[^/?#]+', '') AS pq FROM c),
          |h AS (SELECT *,
          |  regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')),
          |    '^www\.', '') AS host,
          |  regexp_extract(hostport, ':([0-9]+)$', 1) AS rawport FROM hp),
          |p1 AS (SELECT *,
          |  CASE WHEN (scheme = 'http' AND rawport = '80')
          |         OR (scheme = 'https' AND rawport = '443')
          |       THEN '' ELSE rawport END AS port,
          |  regexp_replace(regexp_extract(pq, '^([^?#]*)', 1),
          |    '/{2,}', '/', 'g') AS path0,
          |  regexp_extract(pq, '\?([^#]*)', 1) AS q0 FROM h),
          |p2 AS (SELECT *,
          |  CASE WHEN length(path0) = 0 THEN '/'
          |       WHEN length(path0) > 1 THEN regexp_replace(path0, '/$', '')
          |       ELSE path0 END AS path,
          |  array_to_string(list_filter(string_split(q0, '&'), x ->
          |    length(x) > 0 AND substr(x, 1, 4) <> 'utm_'
          |      AND substr(x, 1, 4) <> 'ref='), '&') AS query FROM p1),
          |canon AS (SELECT doc_id, host, port,
          |  scheme || '://' || host ||
          |  (CASE WHEN port = '' THEN '' ELSE ':' || port END) || path ||
          |  (CASE WHEN query = '' THEN '' ELSE '?' || query END) AS canon_url
          |  FROM p2)
          |SELECT host, count(*) AS n_urls,
          |  CAST(count(DISTINCT canon_url) AS BIGINT) AS n_distinct_canon,
          |  CAST(count(*) FILTER (WHERE port <> '') AS BIGINT) AS n_with_port
          |FROM canon GROUP BY host ORDER BY host""".stripMargin,
      // LPT deal: global (n_tokens desc, id) rank mod nShards
      "q_shard_tokens" ->
        """WITH t AS (SELECT doc_id,
          |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |r AS (SELECT doc_id, n_tokens,
          |  row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rk FROM t),
          |a AS (SELECT CAST(rk % 8 AS BIGINT) AS shard, n_tokens FROM r),
          |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM a)
          |SELECT shard, count(*) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
          |  CAST(sum(n_tokens) AS DOUBLE) / CAST(tt AS DOUBLE) AS share_frac
          |FROM a, tot GROUP BY shard, tt ORDER BY shard""".stripMargin,
      "q_simhash" ->
        s"""WITH $simhashCtes
           |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin,
      "q_dedup_simhash" ->
        s"""WITH $simhashCtes,
           |blocks AS (
           |  SELECT doc_id, simhash, 0 AS blk, simhash & 65535 AS key FROM fp
           |  UNION ALL
           |  SELECT doc_id, simhash, 1 AS blk, simhash >> 16 AS key FROM fp),
           |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |  FROM blocks a JOIN blocks b
           |    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
           |ORDER BY a_id, b_id""".stripMargin,
      "q_dedup_editdist" ->
        s"""WITH $editDistCtes
           |SELECT a_id, b_id, hamming, len_a, len_b, edit_dist
           |FROM eacc ORDER BY a_id, b_id""".stripMargin,
      "q_dedup_editdist_survivors" ->
        s"""WITH RECURSIVE $editDistCtes,
           |edges AS (SELECT a_id, b_id FROM eacc
           |  UNION ALL SELECT b_id, a_id FROM eacc),
           |reach(src, dst) AS (
           |  SELECT DISTINCT a_id, a_id FROM edges
           |  UNION
           |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst),
           |losers AS (SELECT src AS doc_id FROM reach
           |  GROUP BY src HAVING src <> min(dst))
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
           |ORDER BY doc_id""".stripMargin,
      "q_sim_topk_brute" ->
        s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |           FROM embeddings),
           |s AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
           |        ${cosSql("q.emb", "c.emb")} AS cos
           |      FROM v c CROSS JOIN v q
           |      WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
           |r AS (SELECT q_id, n_id, cos,
           |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
           |      FROM s)
           |SELECT q_id, rk, n_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      "q_hard_negatives" ->
        s"""WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |           FROM embeddings),
           |s AS (SELECT q.vec_id AS q_id, CAST(q.label AS BIGINT) AS q_label,
           |        c.vec_id AS n_id, CAST(c.label AS BIGINT) AS n_label,
           |        ${cosSql("q.emb", "c.emb")} AS cos
           |      FROM v c CROSS JOIN v q
           |      WHERE q.vec_id < 8 AND q.label <> c.label),
           |r AS (SELECT q_id, q_label, n_id, n_label, cos,
           |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
           |      FROM s)
           |SELECT q_id, q_label, rk, n_id, n_label, cos FROM r WHERE rk <= 5
           |ORDER BY q_id, rk""".stripMargin,
      "q_hard_negatives_ivf" ->
        s"""WITH ${ivfCtes("")},
           |v2 AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |       FROM embeddings),
           |s AS (SELECT q_id, CAST(q.label AS BIGINT) AS q_label,
           |        n_id, CAST(n.label AS BIGINT) AS n_label,
           |        ${cosSql("q.emb", "n.emb")} AS cos
           |      FROM cand JOIN v2 q ON q.vec_id = q_id JOIN v2 n ON n.vec_id = n_id
           |      WHERE q.label <> n.label),
           |r AS (SELECT q_id, q_label, n_id, n_label, cos,
           |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
           |      FROM s)
           |SELECT q_id, q_label, rk, n_id, n_label, cos FROM r WHERE rk <= 5
           |ORDER BY q_id, rk""".stripMargin,
      "q_mmr_diverse" -> mmrSql(nCand = 20, k = 5),
      "q_gopher_rules" ->
        s"""WITH d AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM documents),
           |m AS (SELECT doc_id,
           |  CAST(len(w) AS BIGINT) AS n_words,
           |  CAST(list_sum(list_transform(w, x -> len(x))) AS BIGINT) AS tot_len,
           |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
           |  CAST(len(list_filter(list_distinct(w), x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stop,
           |  CAST(coalesce(list_max(list_transform(list_distinct(w), x -> len(list_filter(w, y -> y = x)))), 0) AS BIGINT) AS max_tf
           | FROM d),
           |r AS (SELECT doc_id, n_words, max_tf,
           |  n_words >= 10 AND n_words <= 100000 AS r_word_count,
           |  3 * n_words <= tot_len AND tot_len <= 10 * n_words AS r_mean_word_len,
           |  n_stop >= 2 AS r_stopwords,
           |  5 * n_alpha >= 4 * n_words AS r_alpha_words,
           |  10 * max_tf <= 3 * n_words AS r_repetition
           | FROM m)
           |SELECT doc_id, n_words, max_tf,
           |  r_word_count, r_mean_word_len, r_stopwords, r_alpha_words, r_repetition,
           |  r_word_count AND r_mean_word_len AND r_stopwords AND r_alpha_words
           |    AND r_repetition AS keep,
           |  CASE WHEN NOT r_word_count THEN 'word_count'
           |       WHEN NOT r_mean_word_len THEN 'mean_word_len'
           |       WHEN NOT r_stopwords THEN 'stopwords'
           |       WHEN NOT r_alpha_words THEN 'alpha_words'
           |       WHEN NOT r_repetition THEN 'repetition' END AS first_fail
           |FROM r ORDER BY doc_id""".stripMargin,
      "q_ivf_recall_report" ->
        s"""WITH ${ivfCtes("")},
           |pall AS (SELECT vec_id AS q_id, list,
           |    CAST(row_number() OVER (PARTITION BY vec_id ORDER BY dist2, list) AS BIGINT) AS probe_rank
           |  FROM d1 WHERE vec_id < 8),
           |cmin AS (SELECT q_id, m.vec_id AS n_id, min(probe_rank) AS first_probe
           |  FROM pall JOIN a2 m USING (list) WHERE q_id <> m.vec_id GROUP BY 1, 2),
           |v2 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |       FROM embeddings),
           |sc AS (SELECT q_id, n_id, first_probe, ${cosSql("q.emb", "n.emb")} AS cos
           |  FROM cmin JOIN v2 q ON q.vec_id = q_id JOIN v2 n ON n.vec_id = n_id),
           |pp AS (SELECT * FROM (VALUES (1),(2),(4),(8)) t(n_probe)),
           |tk AS (SELECT n_probe, q_id, n_id FROM (
           |    SELECT p.n_probe, s.q_id, s.n_id,
           |      row_number() OVER (PARTITION BY p.n_probe, s.q_id ORDER BY s.cos DESC, s.n_id) AS rk
           |    FROM sc s JOIN pp p ON s.first_probe <= p.n_probe) x WHERE rk <= 5),
           |bs AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, ${cosSql("q.emb", "c.emb")} AS cos
           |  FROM v2 c CROSS JOIN v2 q WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
           |bk AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
           |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
           |  FROM bs) x WHERE rk <= 5),
           |h AS (SELECT n_probe, q_id, count(*) AS n_hit FROM tk
           |  WHERE EXISTS (SELECT 1 FROM bk WHERE bk.q_id = tk.q_id AND bk.n_id = tk.n_id)
           |  GROUP BY 1, 2)
           |SELECT CAST(p.n_probe AS BIGINT) AS n_probe, q.vec_id AS q_id,
           |  CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5 AS recall_at_k
           |FROM embeddings q CROSS JOIN pp p
           |LEFT JOIN h ON h.n_probe = p.n_probe AND h.q_id = q.vec_id
           |WHERE q.vec_id < 8
           |ORDER BY n_probe, q_id""".stripMargin,
      // mirrors lshAutoBits' deterministic pick on the sf0.01 fixture:
      // 500 vectors, target ~16/bucket -> ceil(log2(500/16)) = 5 bits
      "q_sim_topk_lsh_auto" ->
        s"""WITH ${sketchCteBits(5)},
           |q AS (SELECT vec_id AS q_id, emb AS q_emb, tbl, key FROM sk WHERE vec_id < 8),
           |c AS (SELECT vec_id AS n_id, emb AS n_emb, tbl, key FROM sk),
           |cand AS (SELECT DISTINCT q_id, q_emb, n_id, n_emb
           |  FROM c JOIN q USING (tbl, key) WHERE q_id <> n_id),
           |s AS (SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS cos FROM cand),
           |r AS (SELECT q_id, n_id, cos,
           |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
           |      FROM s)
           |SELECT q_id, rk, n_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      "q_sim_topk_lsh" ->
        s"""WITH $sketchCte,
           |q AS (SELECT vec_id AS q_id, emb AS q_emb, tbl, key FROM sk WHERE vec_id < 8),
           |c AS (SELECT vec_id AS n_id, emb AS n_emb, tbl, key FROM sk),
           |cand AS (SELECT DISTINCT q_id, q_emb, n_id, n_emb
           |  FROM c JOIN q USING (tbl, key) WHERE q_id <> n_id),
           |s AS (SELECT q_id, n_id, ${cosSql("q_emb", "n_emb")} AS cos FROM cand),
           |r AS (SELECT q_id, n_id, cos,
           |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
           |      FROM s)
           |SELECT q_id, rk, n_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      "q_tfidf_topk" ->
        """WITH tok AS (
          |  SELECT doc_id, tok, count(*) AS tf FROM (
          |    SELECT doc_id,
          |      unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
          |    FROM documents) x GROUP BY doc_id, tok),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |dfq AS (SELECT tok, (n_docs - count(*) + 0.5) / (count(*) + 0.5) AS w
          |        FROM tok CROSS JOIN n GROUP BY tok, n_docs),
          |wt AS (SELECT doc_id, tok.tok AS tok, w * tf AS wt
          |       FROM tok JOIN dfq ON tok.tok = dfq.tok),
          |norms AS (SELECT doc_id,
          |    sqrt(CAST(sum(CAST(wt * wt AS DECIMAL(38,8))) AS DOUBLE)) AS norm
          |  FROM wt GROUP BY doc_id),
          |dot AS (SELECT q.doc_id AS q_id, c.doc_id AS n_id,
          |    CAST(sum(CAST(q.wt * c.wt AS DECIMAL(38,8))) AS DOUBLE) AS dot
          |  FROM wt q JOIN wt c ON q.tok = c.tok
          |  WHERE q.doc_id < 8 AND q.doc_id <> c.doc_id
          |  GROUP BY q_id, n_id),
          |scored AS (SELECT q_id, n_id, dot / (qn.norm * nn.norm) AS sim
          |  FROM dot
          |  JOIN norms qn ON qn.doc_id = q_id
          |  JOIN norms nn ON nn.doc_id = n_id),
          |r AS (SELECT q_id, n_id, sim,
          |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS BIGINT) AS rk
          |      FROM scored)
          |SELECT q_id, rk, n_id, sim FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      "q_bm25_topk" ->
        """WITH tok AS (
          |  SELECT doc_id, tok, count(*) AS tf FROM (
          |    SELECT doc_id,
          |      unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
          |    FROM documents) x GROUP BY doc_id, tok),
          |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
          |avgdl AS (SELECT CAST(sum(CAST(dl AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS avgdl FROM dl),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |idf AS (SELECT tok, (n_docs - count(*) + 0.5) / (count(*) + 0.5) AS idf
          |        FROM tok CROSS JOIN n GROUP BY tok, n_docs),
          |cand AS (SELECT tok.doc_id AS n_id, tok.tok AS tok,
          |    idf * (tf * (1.2 + 1.0)) /
          |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) AS w
          |  FROM tok JOIN idf ON tok.tok = idf.tok
          |  JOIN dl ON tok.doc_id = dl.doc_id
          |  CROSS JOIN avgdl),
          |scored AS (SELECT q.doc_id AS q_id, c.n_id AS n_id,
          |    CAST(sum(CAST(c.w AS DECIMAL(38,8))) AS DOUBLE) AS bm25
          |  FROM cand c JOIN tok q ON c.tok = q.tok
          |  WHERE q.doc_id < 8 AND q.doc_id <> c.n_id
          |  GROUP BY q_id, n_id),
          |r AS (SELECT q_id, n_id, bm25,
          |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, n_id) AS BIGINT) AS rk
          |      FROM scored)
          |SELECT q_id, rk, n_id, bm25 FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      // integer accumulators only (Σ n_i(n_i-1), N, V); divisions once in double
      "q_lexical_diversity" ->
        """WITH tok AS (
          |  SELECT source, tok, count(*) AS n FROM (
          |    SELECT source,
          |      unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
          |    FROM documents) x WHERE tok <> '' GROUP BY source, tok),
          |agg AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
          |    count(*) AS n_types, CAST(sum(n * (n - 1)) AS BIGINT) AS pairs
          |  FROM tok GROUP BY source)
          |SELECT source, n_tokens, n_types,
          |  CAST(n_types AS DOUBLE) / n_tokens AS ttr,
          |  CAST(pairs AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE)) AS simpson,
          |  CASE WHEN pairs > 0 THEN 1.0 / (CAST(pairs AS DOUBLE)
          |    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens - 1 AS DOUBLE))) END AS effective_types
          |FROM agg ORDER BY source""".stripMargin,
      // the IVF training chain through the final assignment (a2), trimmed
      // of the query-side probe CTEs — same decimal-exact discipline
      "q_vec_clusters" ->
        """WITH ve AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim,
          |          CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
          |        FROM embeddings CROSS JOIN range(1, 65) r(i)),
          |seed AS (SELECT vec_id, vec_id % 8 AS list FROM embeddings),
          |c0 AS (SELECT list, dim,
          |         CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
          |       FROM ve JOIN seed USING (vec_id) GROUP BY list, dim),
          |d0 AS (SELECT vec_id, list,
          |         sum(CAST((v - c) * (v - c) AS DECIMAL(38,18))) AS dist2
          |       FROM ve JOIN c0 USING (dim) GROUP BY vec_id, list),
          |a1 AS (SELECT vec_id, list FROM (
          |         SELECT vec_id, list,
          |           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, list) AS rn
          |         FROM d0) x WHERE rn = 1),
          |c1 AS (SELECT list, dim,
          |         CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
          |       FROM ve JOIN a1 USING (vec_id) GROUP BY list, dim),
          |d1 AS (SELECT vec_id, list,
          |         sum(CAST((v - c) * (v - c) AS DECIMAL(38,18))) AS dist2
          |       FROM ve JOIN c1 USING (dim) GROUP BY vec_id, list),
          |a2 AS (SELECT vec_id, list FROM (
          |         SELECT vec_id, list,
          |           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, list) AS rn
          |         FROM d1) x WHERE rn = 1)
          |SELECT list, count(*) AS n FROM a2 GROUP BY list ORDER BY list""".stripMargin,
      "q_window_rolling" ->
        """SELECT user_id, event_id, ts_sec,
          |  count(*) OVER w AS n_last_hour,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_last_hour
          |FROM (SELECT user_id, event_id,
          |        CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value FROM events) t
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec
          |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, ts_sec, event_id""".stripMargin,
      "q_sim_topk_ivf" ->
        s"""WITH ${ivfCtes("")},
           |v2 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |       FROM embeddings),
           |s AS (SELECT q_id, n_id, ${cosSql("q.emb", "n.emb")} AS cos
           |      FROM cand JOIN v2 q ON q.vec_id = q_id JOIN v2 n ON n.vec_id = n_id),
           |r AS (SELECT q_id, n_id, cos,
           |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS BIGINT) AS rk
           |      FROM s)
           |SELECT q_id, rk, n_id, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      // IVF-PQ composition: the i_-prefixed coarse chain supplies probed
      // candidates; the bare pq chain supplies codes (a2) and the query-side
      // LUT rows (d1) — ADC distance = sum of d1 entries at the candidate's
      // codes, exactly q_vec_adc's scoring restricted to probed lists
      "q_sim_topk_ivfpq" ->
        s"""WITH ${ivfCtes("i_")},
           |$pqCtes,
           |adc AS (SELECT c.q_id, c.n_id, sum(d.dist2) AS adist
           |        FROM i_cand c JOIN a2 x ON x.vec_id = c.n_id
           |             JOIN d1 d ON d.vec_id = c.q_id AND d.s = x.s AND d.code = x.code
           |        GROUP BY 1, 2),
           |r AS (SELECT q_id, n_id, adist,
           |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS BIGINT) AS rk
           |      FROM adc)
           |SELECT q_id, rk, n_id, CAST(adist AS VARCHAR) AS adist
           |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      "q_sim_topk_ivfrpq" ->
        s"""WITH ${ivfCtes("r_")},
           |$rpqCtes,
           |qresid AS (SELECT p.q_id, p.list, v.dim, v.v - c.c AS v
           |  FROM r_probes p JOIN r_ve v ON v.vec_id = p.q_id
           |  JOIN r_c1 c ON c.list = p.list AND c.dim = v.dim),
           |qrve AS (SELECT q_id, list, CAST(dim // 8 AS INT) AS s,
           |         CAST(dim % 8 AS INT) AS subdim, v FROM qresid),
           |qlut AS (SELECT q_id, list, s, code,
           |         sum(CAST(CAST((v - c) * (v - c) AS VARCHAR) AS DECIMAL(38,18))) AS dist2
           |       FROM qrve JOIN rpc1 USING (s, subdim) GROUP BY q_id, list, s, code),
           |members AS (SELECT rp.vec_id, a.list, rp.s, rp.code
           |       FROM rpa2 rp JOIN r_a2 a USING (vec_id)),
           |adc AS (SELECT l.q_id, m.vec_id AS n_id, sum(l.dist2) AS adist
           |        FROM members m
           |        JOIN qlut l ON l.list = m.list AND l.s = m.s AND l.code = m.code
           |        WHERE l.q_id <> m.vec_id
           |        GROUP BY 1, 2),
           |r AS (SELECT q_id, n_id, adist,
           |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS BIGINT) AS rk
           |      FROM adc)
           |SELECT q_id, rk, n_id, CAST(adist AS VARCHAR) AS adist
           |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      "q_vec_assign_new" ->
        s"""WITH ${ivfCtes("h_", "WHERE vec_id < 400")},
           |bve AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim,
           |          CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
           |        FROM embeddings CROSS JOIN range(1, 65) r(i) WHERE vec_id >= 400),
           |bd AS (SELECT vec_id, list,
           |         sum(CAST((v - c) * (v - c) AS DECIMAL(38,18))) AS dist2
           |       FROM bve JOIN h_c1 USING (dim) GROUP BY vec_id, list),
           |ba AS (SELECT vec_id, list FROM (
           |         SELECT vec_id, list,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY dist2, list) AS rn
           |         FROM bd) x WHERE rn = 1),
           |hc AS (SELECT list, count(*) AS n_history FROM h_a2 GROUP BY list),
           |bc AS (SELECT list, count(*) AS n_new FROM ba GROUP BY list)
           |SELECT CAST(list AS BIGINT) AS list,
           |       CAST(coalesce(n_history, 0) AS BIGINT) AS n_history,
           |       CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
           |       CAST(coalesce(n_history, 0) + coalesce(n_new, 0) AS BIGINT) AS n_total,
           |       CAST(coalesce(n_new, 0) AS DOUBLE)
           |         / CAST(coalesce(n_history, 0) + coalesce(n_new, 0) AS DOUBLE) AS new_share
           |FROM hc FULL OUTER JOIN bc USING (list) ORDER BY list""".stripMargin,
      "q_dedup_embcos" ->
        s"""WITH $sketchCte,
           |cand AS (SELECT DISTINCT a.vec_id AS a_id, a.emb AS a_emb,
           |                b.vec_id AS b_id, b.emb AS b_emb
           |  FROM sk a JOIN sk b ON a.tbl = b.tbl AND a.key = b.key AND a.vec_id < b.vec_id),
           |s AS (SELECT a_id, b_id, ${cosSql("a_emb", "b_emb")} AS cos FROM cand)
           |SELECT a_id, b_id, cos FROM s WHERE cos >= 0.4 ORDER BY a_id, b_id""".stripMargin,
      "q_dedup_semantic" ->
        s"""WITH ${ivfCtes("")},
           |pr AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
           |  FROM a2 a JOIN a2 b USING (list) WHERE a.vec_id < b.vec_id),
           |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
           |      FROM embeddings),
           |s AS (SELECT a_id, b_id, ${cosSql("av.emb", "bv.emb")} AS cos
           |  FROM pr JOIN v av ON av.vec_id = a_id JOIN v bv ON bv.vec_id = b_id)
           |SELECT a_id, b_id, cos FROM s WHERE cos >= 0.4 ORDER BY a_id, b_id""".stripMargin,
      "q_cube" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
      "q_grouping_sets" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, gid""".stripMargin,
      "q_pivot" ->
        """SELECT l_returnflag,
          |  CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
          |  CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
          |  CAST(sum(CASE WHEN l_linestatus = 'P' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS P
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q_quantiles" ->
        """SELECT l_returnflag,
          |  quantile_cont(l_quantity, 0.25) AS q25,
          |  quantile_cont(l_quantity, 0.5) AS q50,
          |  quantile_cont(l_quantity, 0.75) AS q75
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q_histogram" ->
        """SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) / 5000) AS BIGINT) AS bucket,
          |  count(*) AS n,
          |  min(CAST(l_extendedprice AS DOUBLE)) AS lo,
          |  max(CAST(l_extendedprice AS DOUBLE)) AS hi
          |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,
      "q_winsorize" ->
        """WITH q AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
          |                  quantile_cont(l_extendedprice, 0.95) AS hi
          |           FROM lineitem)
          |SELECT l_returnflag, count(*) AS n,
          |  min(least(greatest(l_extendedprice, lo), hi)) AS cl_min,
          |  max(least(greatest(l_extendedprice, lo), hi)) AS cl_max,
          |  CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi) AS DECIMAL(18,2))) AS DOUBLE) AS cl_sum
          |FROM lineitem, q
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      // sketch bounds aren't engine-reproducible; the oracle asserts the
      // rank-guarantee booleans hold (the q_approx_sketch pattern)
      "q_winsorize_approx" ->
        """SELECT count(*) AS n, TRUE AS lo_rank_ok, TRUE AS hi_rank_ok
          |FROM lineitem""".stripMargin,
      "q_winsorize_grouped" ->
        """WITH q AS (SELECT l_returnflag AS g,
          |                  quantile_cont(l_extendedprice, 0.05) AS lo,
          |                  quantile_cont(l_extendedprice, 0.95) AS hi
          |           FROM lineitem GROUP BY l_returnflag)
          |SELECT l_returnflag, count(*) AS n,
          |  min(least(greatest(l_extendedprice, lo), hi)) AS cl_min,
          |  max(least(greatest(l_extendedprice, lo), hi)) AS cl_max,
          |  CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi) AS DECIMAL(18,2))) AS DOUBLE) AS cl_sum
          |FROM lineitem JOIN q ON l_returnflag = g
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      // strict-< merge (an event exactly gap later opens a NEW session);
      // microsecond-exact arithmetic, floored to seconds only at output
      "q_session_window" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
          |f AS (SELECT user_id, event_id, us,
          |        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
          |      FROM e),
          |g AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
          |                     THEN 1 ELSE 0 END AS new_session FROM f),
          |h AS (SELECT *, sum(new_session) OVER
          |        (PARTITION BY user_id ORDER BY us, event_id
          |         ROWS UNBOUNDED PRECEDING) AS seq FROM g)
          |SELECT user_id,
          |  CAST(min(us) // 1000000 AS BIGINT) AS session_start,
          |  CAST((max(us) + 1800000000) // 1000000 AS BIGINT) AS session_end,
          |  count(*) AS n_events,
          |  min(event_id) AS first_event
          |FROM h GROUP BY user_id, seq
          |ORDER BY user_id, session_start""".stripMargin,
      "q_zscore" ->
        """WITH s AS (
          |  SELECT lang, count(*) AS n,
          |    sum(CAST(n_chars AS DECIMAL(38,0))) AS sm,
          |    sum(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS ssq
          |  FROM documents GROUP BY lang),
          |b AS (
          |  SELECT lang,
          |    CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
          |    sqrt(greatest(CAST(ssq AS DOUBLE) / CAST(n AS DOUBLE)
          |      - (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE))
          |        * (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS std
          |  FROM s)
          |SELECT doc_id, d.lang, n_chars,
          |  CASE WHEN std > 0
          |       THEN (CAST(n_chars AS DOUBLE) - mean) / std END AS z
          |FROM documents d JOIN b ON d.lang = b.lang
          |ORDER BY doc_id""".stripMargin,
      "q_event_anomaly" ->
        """WITH daily AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |m AS (SELECT event_type, quantile_cont(n, 0.5) AS med
          |      FROM daily GROUP BY 1),
          |d AS (SELECT daily.event_type, day, n, med,
          |        abs(CAST(n AS DOUBLE) - med) AS adev
          |      FROM daily JOIN m USING (event_type)),
          |md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
          |       FROM d GROUP BY 1)
          |SELECT d.event_type, day, n,
          |  CASE WHEN mad > 0 THEN (CAST(n AS DOUBLE) - med) / mad END AS rz,
          |  (mad > 0 AND abs((CAST(n AS DOUBLE) - med) / mad) > 2.0) AS is_anomaly
          |FROM d JOIN md USING (event_type)
          |ORDER BY event_type, day""".stripMargin,
      "q_zscore_robust" ->
        """WITH m AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
          |           FROM documents GROUP BY lang),
          |d AS (SELECT doc_id, dd.lang, n_chars, med,
          |        abs(CAST(n_chars AS DOUBLE) - med) AS adev
          |      FROM documents dd JOIN m USING (lang)),
          |md AS (SELECT lang, quantile_cont(adev, 0.5) AS mad FROM d GROUP BY lang)
          |SELECT doc_id, d.lang, n_chars,
          |  CASE WHEN mad > 0 THEN (CAST(n_chars AS DOUBLE) - med) / mad END AS rz
          |FROM d JOIN md USING (lang) ORDER BY doc_id""".stripMargin,
      "q_incremental_distinct" ->
        """SELECT event_type, count(DISTINCT user_id) AS n_exact,
          |  TRUE AS within_rsd
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      "q_corpus_overlap" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |ga AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
          |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS i) t
          |  WHERE doc_id % 3 <> 0),
          |gb AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
          |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS i) t
          |  WHERE doc_id % 2 <> 0)
          |SELECT (SELECT count(*) FROM ga) AS n_a,
          |       (SELECT count(*) FROM gb) AS n_b,
          |       (SELECT count(*) FROM (SELECT g FROM ga UNION SELECT g FROM gb)) AS n_union,
          |       (SELECT count(*) FROM (SELECT g FROM ga INTERSECT SELECT g FROM gb)) AS n_overlap,
          |       TRUE AS ok_a, TRUE AS ok_b, TRUE AS ok_union, TRUE AS ok_overlap""".stripMargin,
      "q_kmv_overlap" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |ga AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
          |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS i) t
          |  WHERE doc_id % 3 <> 0),
          |gb AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
          |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS i) t
          |  WHERE doc_id % 2 <> 0),
          |ha AS (SELECT DISTINCT CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h FROM ga),
          |hb AS (SELECT DISTINCT CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h FROM gb),
          |ska AS (SELECT list(h ORDER BY h) AS sa
          |        FROM (SELECT h FROM ha ORDER BY h LIMIT 64) t),
          |skb AS (SELECT list(h ORDER BY h) AS sb
          |        FROM (SELECT h FROM hb ORDER BY h LIMIT 64) t),
          |sku AS (SELECT list(h ORDER BY h) AS su FROM (
          |          SELECT DISTINCT h FROM (
          |            SELECT unnest(sa) AS h FROM ska
          |            UNION ALL SELECT unnest(sb) AS h FROM skb) u
          |          ORDER BY h LIMIT 64) t),
          |ex AS (SELECT (SELECT count(*) FROM ha) AS n_a,
          |              (SELECT count(*) FROM hb) AS n_b,
          |              (SELECT count(*) FROM ha JOIN hb USING (h)) AS n_inter_exact)
          |SELECT n_a, n_b, n_inter_exact,
          |  CAST(63 AS DOUBLE)
          |    / (CAST(sa[64] AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)) AS d_a_est,
          |  CAST(63 AS DOUBLE)
          |    / (CAST(sb[64] AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)) AS d_b_est,
          |  CAST(63 AS DOUBLE)
          |    / (CAST(su[64] AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)) AS d_union_est,
          |  CAST(len(list_filter(su, x -> list_contains(sa, x) AND list_contains(sb, x))) AS DOUBLE)
          |    / CAST(64 AS DOUBLE) AS jaccard_est,
          |  (CAST(len(list_filter(su, x -> list_contains(sa, x) AND list_contains(sb, x))) AS DOUBLE)
          |    / CAST(64 AS DOUBLE))
          |  * (CAST(63 AS DOUBLE)
          |    / (CAST(su[64] AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE))) AS inter_est
          |FROM ska, skb, sku, ex""".stripMargin,
      // bottom-k-by-md5 uniform sample -> nearest-rank estimates -> exact
      // rank audit; hash ties break by id (total order, engine-portable)
      "q_quantile_sketch" ->
        """WITH pri AS (
          |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS v,
          |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          |  FROM orders),
          |samp AS (SELECT v FROM pri ORDER BY h, o_orderkey LIMIT 256),
          |sv AS (SELECT list(v ORDER BY v) AS svs, count(*) AS n_sample FROM samp),
          |tot AS (SELECT count(*) AS n_total FROM orders),
          |qrows AS (SELECT CAST(unnest([0.1, 0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q),
          |est AS (SELECT q,
          |    svs[greatest(1, CAST(ceil(q * n_sample) AS INT))] AS est,
          |    CAST(n_sample AS BIGINT) AS n_sample, n_total
          |  FROM sv, tot, qrows),
          |acc AS (SELECT e.q, e.est, e.n_sample, e.n_total,
          |    (SELECT count(*) FROM pri p WHERE p.v <= e.est) AS n_le
          |  FROM est e)
          |SELECT q, est, n_sample, n_total, CAST(n_le AS BIGINT) AS n_le,
          |  CAST(n_le AS DOUBLE) / CAST(n_total AS DOUBLE) AS rank_frac,
          |  abs(CAST(n_le AS DOUBLE) / CAST(n_total AS DOUBLE) - q) AS rank_err
          |FROM acc ORDER BY q""".stripMargin,
      "q_quantile_by_group" ->
        """WITH pri AS (SELECT source AS g, doc_id,
          |    CAST(n_chars AS DOUBLE) AS v,
          |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          |  FROM documents),
          |samp AS (SELECT g, v FROM (SELECT g, v,
          |    row_number() OVER (PARTITION BY g ORDER BY h, doc_id) AS rn
          |  FROM pri) t WHERE rn <= 64),
          |sv AS (SELECT g, list(v ORDER BY v) AS svs, count(*) AS n_sample
          |  FROM samp GROUP BY g),
          |tot AS (SELECT source AS g, count(*) AS n_total
          |  FROM documents GROUP BY 1),
          |qrows AS (SELECT CAST(unnest([0.25, 0.5, 0.75]) AS DOUBLE) AS q),
          |est AS (SELECT g, q,
          |    svs[greatest(1, CAST(ceil(q * n_sample) AS INT))] AS est,
          |    CAST(n_sample AS BIGINT) AS n_sample, n_total
          |  FROM sv JOIN tot USING (g), qrows),
          |acc AS (SELECT e.g, e.q, e.est, e.n_sample, e.n_total,
          |    (SELECT count(*) FROM pri p
          |     WHERE p.g = e.g AND p.v <= e.est) AS n_le
          |  FROM est e)
          |SELECT g, q, est, n_sample, n_total,
          |  CAST(n_le AS BIGINT) AS n_le,
          |  CAST(n_le AS DOUBLE) / CAST(n_total AS DOUBLE) AS rank_frac,
          |  abs(CAST(n_le AS DOUBLE) / CAST(n_total AS DOUBLE) - q) AS rank_err
          |FROM acc ORDER BY g, q""".stripMargin,
      "q_kmv_sketch" ->
        """WITH toks AS (
          |  SELECT doc_id,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |g AS (SELECT array_to_string(w[i:i+7], ' ') AS g
          |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS i) t),
          |h AS (SELECT DISTINCT CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h FROM g),
          |sk AS (SELECT list(h ORDER BY h) AS kmv
          |       FROM (SELECT h FROM h ORDER BY h LIMIT 64) t)
          |SELECT CAST(len(kmv) AS BIGINT) AS n_in_sketch,
          |  kmv[1] AS kmv_min, kmv[len(kmv)] AS kmv_kth,
          |  CASE WHEN len(kmv) < 64 THEN CAST(len(kmv) AS DOUBLE)
          |       ELSE CAST(63 AS DOUBLE)
          |         / (CAST(kmv[64] AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE)) END AS d_est
          |FROM sk""".stripMargin,
      // percent_rank ties share rank -> tie-order-insensitive, engine-exact
      "q_quantile_norm" ->
        """SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score,
          |  percent_rank() OVER (PARTITION BY source
          |    ORDER BY CAST(n_chars AS DOUBLE)) AS pct_in_group
          |FROM documents ORDER BY doc_id""".stripMargin,
      // dominant value picked by (count DESC, value DESC) — mirrors Spark's
      // max(struct(n, sv)) lexicographic tiebreak
      "q_l_diversity" ->
        """WITH j AS (
          |  SELECT CAST(c_nationkey AS VARCHAR) AS qi1, c_mktsegment AS qi2,
          |         o_orderpriority AS sv
          |  FROM customer JOIN orders ON c_custkey = o_custkey),
          |cells AS (SELECT qi1, qi2, sv, count(*) AS n FROM j GROUP BY 1, 2, 3),
          |cls AS (SELECT qi1, qi2, CAST(sum(n) AS BIGINT) AS n_rows,
          |         count(*) AS l_distinct FROM cells GROUP BY 1, 2),
          |dom AS (SELECT qi1, qi2, sv, n,
          |         row_number() OVER (PARTITION BY qi1, qi2
          |           ORDER BY n DESC, sv DESC) AS rn FROM cells)
          |SELECT c.qi1, c.qi2, c.n_rows, c.l_distinct,
          |  d.sv AS dominant_value,
          |  CAST(d.n AS DOUBLE) / CAST(c.n_rows AS DOUBLE) AS dominant_share,
          |  (c.n_rows >= 100 AND c.l_distinct >= 3) AS ok
          |FROM cls c JOIN dom d ON c.qi1 = d.qi1 AND c.qi2 = d.qi2 AND d.rn = 1
          |ORDER BY c.qi1, c.qi2""".stripMargin,
      // every Poisson(1) draw recomputed from md5(doc_id, b) — the bootstrap
      // is content-addressed, so the CI hash-matches across engines
      "q_bootstrap_ci" ->
        """WITH grid AS (
          |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS v, b
          |  FROM documents CROSS JOIN range(0, 64) r(b)),
          |ww AS (SELECT doc_id, v, b,
          |  CASE WHEN u < 0.36787944117144233 THEN 0.0
          |       WHEN u < 0.7357588823428846 THEN 1.0
          |       WHEN u < 0.9196986029286058 THEN 2.0
          |       WHEN u < 0.981011843123846 THEN 3.0
          |       WHEN u < 0.9963401531726563 THEN 4.0
          |       WHEN u < 0.9994058151824183 THEN 5.0
          |       ELSE 6.0 END AS w
          |  FROM (SELECT doc_id, v, b,
          |    CAST(('0x' || substr(md5(doc_id || '_' || b || '_' || 'graft_boot_v1'), 1, 13)) AS BIGINT)
          |      / 4503599627370496.0 AS u FROM grid) t),
          |means AS (SELECT b,
          |    CAST(sum(CAST(v * w AS DECIMAL(28,6))) AS DOUBLE)
          |      / CAST(sum(CAST(w AS DECIMAL(18,2))) AS DOUBLE) AS mean_b
          |  FROM ww GROUP BY b),
          |rk AS (SELECT mean_b, row_number() OVER (ORDER BY mean_b, b) AS rn FROM means),
          |pt AS (SELECT CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean,
          |         count(*) AS n_rows FROM documents)
          |SELECT pt.mean, pt.n_rows, lo.ci_lo, hi.ci_hi,
          |  CAST(64 AS BIGINT) AS n_resamples
          |FROM pt,
          |  (SELECT mean_b AS ci_lo FROM rk WHERE rn = 2) lo,
          |  (SELECT mean_b AS ci_hi FROM rk WHERE rn = 63) hi""".stripMargin,
      "q_snapshot_diff" ->
        """WITH o AS (SELECT doc_id, md5(text) AS ofp FROM documents WHERE doc_id % 7 <> 0),
          |n AS (SELECT doc_id,
          |        md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS nfp
          |      FROM documents WHERE doc_id % 5 <> 0)
          |SELECT doc_id,
          |  CASE WHEN ofp IS NULL THEN 'added'
          |       WHEN nfp IS NULL THEN 'removed'
          |       WHEN ofp <> nfp THEN 'changed' END AS status
          |FROM o FULL OUTER JOIN n USING (doc_id)
          |WHERE (CASE WHEN ofp IS NULL THEN 'added'
          |            WHEN nfp IS NULL THEN 'removed'
          |            WHEN ofp <> nfp THEN 'changed' END) IS NOT NULL
          |ORDER BY doc_id""".stripMargin,
      "q_incremental_agg" ->
        """SELECT user_id, event_type, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v,
          |  min(CAST(floor(epoch(ts)) AS BIGINT)) AS min_v,
          |  max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_v
          |FROM events GROUP BY user_id, event_type
          |ORDER BY user_id, event_type""".stripMargin,
      "q_bloom_join" ->
        """SELECT o_orderstatus, count(*) AS n_li,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |WHERE o_totalprice > 400000
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
      // exact columns recomputed by DuckDB; the verdict booleans are TRUE in
      // the oracle because the Spark side computes them against Spark-exact
      // aggregates in the same pass — a degraded sketch flips them and fails
      // the hash gate.
      "q_approx_sketch" ->
        """SELECT l_returnflag, count(*) AS n_rows,
          |  count(DISTINCT l_partkey) AS n_parts_exact,
          |  quantile_cont(l_quantity, 0.5) AS median_exact,
          |  TRUE AS parts_within_rsd, TRUE AS median_within_tol
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      "q_corr_manual" ->
        """WITH c AS (
          |  SELECT l_returnflag,
          |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS xc,
          |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc
          |  FROM lineitem),
          |m AS (
          |  SELECT l_returnflag, count(*) AS n,
          |    sum(CAST(xc AS HUGEINT)) AS sx, sum(CAST(yc AS HUGEINT)) AS sy,
          |    sum(CAST(xc * yc AS HUGEINT)) AS sxy,
          |    sum(CAST(xc * xc AS HUGEINT)) AS sxx,
          |    sum(CAST(yc * yc AS HUGEINT)) AS syy
          |  FROM c GROUP BY l_returnflag)
          |SELECT l_returnflag,
          |  CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
          |    (sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)) *
          |     sqrt(CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE))) AS corr_qty_price
          |FROM m ORDER BY l_returnflag""".stripMargin,
      "q_asof_join" ->
        """WITH o AS (
          |  SELECT user_id, t, o_orderkey, o_totalprice FROM (
          |    SELECT o_custkey AS user_id,
          |           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS t,
          |           o_orderkey, o_totalprice,
          |           row_number() OVER (PARTITION BY o_custkey,
          |             CAST(floor(epoch(o_orderdate)) AS BIGINT)
          |             ORDER BY o_orderkey DESC) AS rn
          |    FROM orders) x WHERE rn = 1),
          |e AS (SELECT event_id, user_id,
          |        CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec FROM events)
          |SELECT e.event_id, e.user_id, e.ts_sec,
          |       o.o_orderkey AS matched_order, o.o_totalprice AS matched_price
          |FROM e ASOF LEFT JOIN o
          |  ON e.user_id = o.user_id AND e.ts_sec >= o.t
          |ORDER BY e.event_id""".stripMargin,
      "q_merge_upsert" ->
        """WITH t AS (SELECT *, 0 AS upd FROM events WHERE event_id <= 700),
          |u AS (SELECT *, 1 AS upd FROM events WHERE event_id > 700),
          |a AS (SELECT * FROM t UNION ALL SELECT * FROM u),
          |r AS (SELECT event_id, user_id, event_type,
          |        CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value,
          |        row_number() OVER (PARTITION BY user_id, event_type
          |          ORDER BY ts DESC, upd DESC, event_id DESC) AS rn
          |      FROM a)
          |SELECT event_id, user_id, event_type, ts_sec, value
          |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
      "q_merge_replace" ->
        """WITH t AS (SELECT * FROM events WHERE event_id <= 700),
          |u AS (SELECT * FROM events WHERE event_id > 700),
          |lu AS (SELECT event_id, user_id, event_type, value FROM (
          |         SELECT *, row_number() OVER (PARTITION BY user_id, event_type
          |           ORDER BY ts DESC, event_id DESC) AS rn FROM u) x
          |       WHERE rn = 1),
          |kept AS (SELECT event_id, user_id, event_type, value FROM t
          |         WHERE NOT EXISTS (SELECT 1 FROM lu
          |           WHERE lu.user_id = t.user_id
          |             AND lu.event_type = t.event_type))
          |SELECT * FROM (SELECT * FROM kept UNION ALL SELECT * FROM lu) z
          |ORDER BY event_id""".stripMargin,
      "q_scd2" ->
        """SELECT user_id, event_type, event_id, valid_from,
          |       lead(valid_from) OVER w AS valid_to,
          |       lead(valid_from) OVER w IS NULL AS is_current
          |FROM (SELECT user_id, event_type, event_id, ts,
          |        CAST(floor(epoch(ts)) AS BIGINT) AS valid_from FROM events) e
          |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
          |ORDER BY user_id, event_type, valid_from, event_id""".stripMargin,
      "q_scd2_asof" ->
        """WITH h AS (
          |  SELECT user_id, event_type, event_id, valid_from,
          |         lead(valid_from) OVER w AS valid_to
          |  FROM (SELECT user_id, event_type, event_id, ts,
          |          CAST(floor(epoch(ts)) AS BIGINT) AS valid_from FROM events) e
          |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id))
          |SELECT user_id, event_type, event_id, valid_from, valid_to
          |FROM h
          |WHERE valid_from <= 1705276800
          |  AND (valid_to IS NULL OR valid_to > 1705276800)
          |ORDER BY user_id, event_type, event_id""".stripMargin,
      // the oracle aggregates the SURVIVING row set directly — equality
      // proves the signed-fold maintenance path correct
      "q_incremental_agg_retract" ->
        """SELECT user_id, event_type, count(*) AS n,
          |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_v
          |FROM events
          |WHERE event_id > 700 OR event_id % 10 <> 0
          |GROUP BY user_id, event_type
          |ORDER BY user_id, event_type""".stripMargin,
      "q_k_anonymize" ->
        """WITH c0 AS (SELECT CAST(c_nationkey AS VARCHAR) AS qi1,
          |         CAST(c_mktsegment AS VARCHAR) AS qi2, count(*) AS n
          |       FROM customer GROUP BY 1, 2),
          |c1 AS (SELECT qi1, CAST(sum(n) AS BIGINT) AS n
          |       FROM c0 WHERE n < 25 GROUP BY 1),
          |k0 AS (SELECT qi1, qi2, n, CAST(0 AS BIGINT) AS level
          |       FROM c0 WHERE n >= 25),
          |k1 AS (SELECT qi1, '*' AS qi2, n, CAST(1 AS BIGINT) AS level
          |       FROM c1 WHERE n >= 25),
          |k2 AS (SELECT '*' AS qi1, '*' AS qi2, CAST(sum(n) AS BIGINT) AS n,
          |         CAST(2 AS BIGINT) AS level
          |       FROM c1 WHERE n < 25 HAVING sum(n) IS NOT NULL)
          |SELECT qi1, qi2, n, level FROM (
          |  SELECT * FROM k0 UNION ALL SELECT * FROM k1 UNION ALL SELECT * FROM k2)
          |ORDER BY level, qi1, qi2""".stripMargin,
      "q_validate" ->
        """SELECT rule, n_violations FROM (
          |  SELECT 'li_orderkey_null' AS rule,
          |    count(*) FILTER (l_orderkey IS NULL) AS n_violations FROM lineitem
          |  UNION ALL SELECT 'li_discount_range',
          |    count(*) FILTER (l_discount < 0 OR l_discount > 1) FROM lineitem
          |  UNION ALL SELECT 'li_quantity_nonpos',
          |    count(*) FILTER (l_quantity <= 0) FROM lineitem
          |  UNION ALL SELECT 'li_shipdate_null',
          |    count(*) FILTER (l_shipdate IS NULL) FROM lineitem
          |  UNION ALL SELECT 'doc_nchars_mismatch',
          |    count(*) FILTER (n_chars <> length(text)) FROM documents
          |  UNION ALL SELECT 'doc_lang_domain',
          |    count(*) FILTER (lang IS NULL OR lang NOT IN ('en','de','fr','es','zh')) FROM documents
          |  UNION ALL SELECT 'ord_orderkey_dup',
          |    count(*) - count(DISTINCT o_orderkey) FROM orders
          |  UNION ALL SELECT 'li_orphan_orderkey',
          |    (SELECT count(*) FROM lineitem l
          |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
          |) t ORDER BY rule""".stripMargin,
      "q_cluster_split" ->
        s"""WITH RECURSIVE $minhashPairCtes,
           |pairs AS (SELECT a_id, b_id FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5),
           |edges AS (SELECT a_id, b_id FROM pairs
           |  UNION ALL SELECT b_id, a_id FROM pairs),
           |reach(src, dst) AS (
           |  SELECT DISTINCT a_id, a_id FROM edges
           |  UNION
           |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst),
           |clus AS (SELECT src AS doc_id, min(dst) AS cluster_id
           |  FROM reach GROUP BY src),
           |rp AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
           |  FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id),
           |bk AS (SELECT doc_id, rep,
           |  CAST(('0x' || substr(md5(CAST(rep AS VARCHAR) || '|graft_v1'), 1, 8)) AS BIGINT) % 100 AS bucket
           |  FROM rp)
           |SELECT doc_id, rep, bucket,
           |  CASE WHEN bucket < 80 THEN 'train'
           |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
           |FROM bk ORDER BY doc_id""".stripMargin,
      // same digest bucketing + NOT EXISTS + (h, item) rank
      "q_neg_samples" ->
        """WITH inter AS (SELECT DISTINCT o_custkey AS user_id,
          |    l_partkey AS item
          |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          |nb AS (SELECT greatest(1, count(DISTINCT p_partkey) // 100) AS nb FROM part),
          |users AS (SELECT DISTINCT user_id,
          |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |      % (SELECT nb FROM nb) AS b
          |  FROM inter),
          |items AS (SELECT DISTINCT p_partkey AS item,
          |    CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15)) AS BIGINT)
          |      % (SELECT nb FROM nb) AS b
          |  FROM part),
          |cand AS (SELECT u.user_id, i.item FROM users u JOIN items i USING (b)
          |  WHERE NOT EXISTS (SELECT 1 FROM inter s
          |    WHERE s.user_id = u.user_id AND s.item = i.item)),
          |pri AS (SELECT user_id, item,
          |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || '_'
          |      || CAST(item AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          |  FROM cand),
          |r AS (SELECT user_id, item,
          |    row_number() OVER (PARTITION BY user_id ORDER BY h, item) AS rk
          |  FROM pri)
          |SELECT user_id, CAST(rk AS BIGINT) AS rk, item AS neg_item
          |FROM r WHERE rk <= 5 ORDER BY user_id, rk""".stripMargin,
      "q_market_basket" ->
        """WITH baskets AS (
          |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
          |nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM baskets),
          |cnt AS (SELECT item, count(*) AS cnt FROM baskets GROUP BY item),
          |freq AS (SELECT item, cnt FROM cnt WHERE cnt >= 15),
          |fb AS (SELECT b.basket, b.item, f.cnt
          |       FROM baskets b JOIN freq f USING (item)),
          |p AS (SELECT a.item AS part_a, b.item AS part_b,
          |             a.cnt AS cnt_a, b.cnt AS cnt_b, count(*) AS pair_cnt
          |      FROM fb a JOIN fb b ON a.basket = b.basket AND a.item < b.item
          |      GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
          |SELECT part_a, part_b, pair_cnt, cnt_a, cnt_b, n_baskets,
          |       CAST(pair_cnt AS DOUBLE) / CAST(cnt_a AS DOUBLE) AS confidence,
          |       CAST(pair_cnt * n_baskets AS DOUBLE) / CAST(cnt_a * cnt_b AS DOUBLE) AS lift
          |FROM p CROSS JOIN nb
          |ORDER BY lift DESC, part_a, part_b LIMIT 100""".stripMargin,
      "q_pagerank" ->
        """WITH und AS (
          |  SELECT DISTINCT
          |    least('C' || CAST(o_custkey AS VARCHAR),
          |          'S' || CAST(l_suppkey AS VARCHAR)) AS a,
          |    greatest('C' || CAST(o_custkey AS VARCHAR),
          |             'S' || CAST(l_suppkey AS VARCHAR)) AS b
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |  WHERE 'C' || CAST(o_custkey AS VARCHAR)
          |        <> 'S' || CAST(l_suppkey AS VARCHAR)),
          |edges AS (SELECT a AS src, b AS dst FROM und
          |          UNION ALL SELECT b, a FROM und),
          |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
          |nn AS (SELECT count(*) AS n FROM deg),
          |r0 AS (SELECT src AS node, 1000000000000 // n AS rank
          |       FROM deg CROSS JOIN nn),
          |r1 AS (SELECT e.dst AS node,
          |         15 * (1000000000000 // n) // 100
          |           + 85 * CAST(sum(r.rank // d.deg) AS BIGINT) // 100 AS rank
          |       FROM edges e JOIN r0 r ON e.src = r.node
          |       JOIN deg d ON e.src = d.src CROSS JOIN nn
          |       GROUP BY e.dst, nn.n),
          |r2 AS (SELECT e.dst AS node,
          |         15 * (1000000000000 // n) // 100
          |           + 85 * CAST(sum(r.rank // d.deg) AS BIGINT) // 100 AS rank
          |       FROM edges e JOIN r1 r ON e.src = r.node
          |       JOIN deg d ON e.src = d.src CROSS JOIN nn
          |       GROUP BY e.dst, nn.n),
          |r3 AS (SELECT e.dst AS node,
          |         15 * (1000000000000 // n) // 100
          |           + 85 * CAST(sum(r.rank // d.deg) AS BIGINT) // 100 AS rank
          |       FROM edges e JOIN r2 r ON e.src = r.node
          |       JOIN deg d ON e.src = d.src CROSS JOIN nn
          |       GROUP BY e.dst, nn.n)
          |SELECT node, CAST(rank AS BIGINT) AS rank_units FROM r3
          |ORDER BY rank_units DESC, node LIMIT 50""".stripMargin,
      "q_triangle_count" ->
        """WITH baskets AS (
          |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
          |canon AS (SELECT a.item AS a, b.item AS b
          |      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
          |      GROUP BY 1, 2 HAVING count(*) >= 2),
          |sym AS (SELECT a, b FROM canon UNION ALL SELECT b, a FROM canon),
          |deg AS (SELECT a AS node, count(*) AS deg FROM sym GROUP BY a),
          |wd AS (SELECT c.a, c.b, da.deg AS deg_a, db.deg AS deg_b
          |       FROM canon c JOIN deg da ON da.node = c.a JOIN deg db ON db.node = c.b),
          |ori AS (SELECT
          |  CASE WHEN deg_a < deg_b OR (deg_a = deg_b AND a < b) THEN a ELSE b END AS src,
          |  CASE WHEN deg_a < deg_b OR (deg_a = deg_b AND a < b) THEN b ELSE a END AS dst
          |  FROM wd),
          |wedge AS (SELECT e1.src, e1.dst AS v, e2.dst AS w
          |          FROM ori e1 JOIN ori e2 ON e1.src = e2.src AND e1.dst < e2.dst),
          |clo AS (SELECT least(src, dst) AS v, greatest(src, dst) AS w FROM ori),
          |tri AS (SELECT count(*) AS n_triangles FROM wedge
          |        WHERE EXISTS (SELECT 1 FROM clo WHERE clo.v = wedge.v AND clo.w = wedge.w)),
          |ne AS (SELECT count(*) AS n_edges FROM canon),
          |nn AS (SELECT count(*) AS n_nodes FROM deg),
          |nw AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
          |SELECT n_nodes, n_edges, n_wedges, n_triangles,
          |       CAST(n_triangles * 3 AS DOUBLE) / CAST(n_wedges AS DOUBLE) AS clustering_coeff
          |FROM tri CROSS JOIN ne CROSS JOIN nn CROSS JOIN nw""".stripMargin,
      "q_cf_similarity" ->
        """WITH b AS (SELECT DISTINCT o_custkey AS basket, l_suppkey AS item
          |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |cnt AS (SELECT item, count(*) AS cnt FROM b GROUP BY item),
          |co AS (SELECT a.item AS item_a, b2.item AS item_b, count(*) AS co_cnt
          |       FROM b a JOIN b b2 ON a.basket = b2.basket AND a.item < b2.item
          |       GROUP BY 1, 2 HAVING count(*) >= 2)
          |SELECT item_a, item_b, co_cnt, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
          |  CAST(co_cnt AS DOUBLE) / sqrt(CAST(ca.cnt * cb.cnt AS DOUBLE)) AS cosine,
          |  CAST(co_cnt AS DOUBLE) / CAST(ca.cnt + cb.cnt - co_cnt AS DOUBLE) AS jaccard
          |FROM co JOIN cnt ca ON ca.item = co.item_a JOIN cnt cb ON cb.item = co.item_b
          |ORDER BY cosine DESC, item_a, item_b LIMIT 100""".stripMargin,
      "q_cf_recommend" ->
        """WITH b AS (SELECT DISTINCT o_custkey AS basket, l_suppkey AS item
          |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |cnt AS (SELECT item, count(*) AS cnt FROM b GROUP BY item),
          |co AS (SELECT a.item AS item_a, b2.item AS item_b, count(*) AS co_cnt
          |       FROM b a JOIN b b2 ON a.basket = b2.basket AND a.item < b2.item
          |       GROUP BY 1, 2 HAVING count(*) >= 2),
          |sym AS (SELECT item_a, item_b, co_cnt FROM co
          |        UNION ALL SELECT item_b, item_a, co_cnt FROM co),
          |sc AS (SELECT item_a, item_b, co_cnt,
          |         CAST(co_cnt AS DOUBLE) / sqrt(CAST(ca.cnt * cb.cnt AS DOUBLE)) AS cosine
          |       FROM sym JOIN cnt ca ON ca.item = sym.item_a
          |       JOIN cnt cb ON cb.item = sym.item_b),
          |r AS (SELECT item_a AS item, item_b AS rec, co_cnt, cosine,
          |        CAST(row_number() OVER (PARTITION BY item_a ORDER BY cosine DESC, item_b) AS BIGINT) AS rk
          |      FROM sc)
          |SELECT item, rk, rec, co_cnt, cosine FROM r WHERE rk <= 3
          |ORDER BY item, rk""".stripMargin,
      // list(e ORDER BY m) + sequential list_reduce = Spark's sorted
      // collect + ordered aggregate fold, bit-for-bit
      "q_vec_pool" ->
        """WITH g AS (SELECT vec_id % 50 AS doc, vec_id AS m,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
          |  FROM embeddings),
          |p AS (SELECT doc, CAST(count(*) AS BIGINT) AS n_members,
          |    list(e ORDER BY m) AS es FROM g GROUP BY doc),
          |f AS (SELECT doc, n_members, CAST(i AS BIGINT) AS dim,
          |    list_reduce(list_transform(es, v -> v[CAST(i AS INT) + 1]),
          |      (a, b) -> a + b) / CAST(n_members AS DOUBLE) AS val
          |  FROM p, LATERAL (SELECT unnest(range(len(es[1]))) AS i) ii)
          |SELECT doc, n_members, dim, val FROM f ORDER BY doc, dim""".stripMargin,
      "q_auc_subgroup" ->
        """WITH s AS (SELECT source AS g, n_chars AS v,
          |    (lang = 'en') AS y FROM documents),
          |vg AS (SELECT g, v,
          |    CAST(count(*) FILTER (WHERE y) AS BIGINT) AS np,
          |    CAST(count(*) FILTER (WHERE NOT y) AS BIGINT) AS nn
          |  FROM s GROUP BY g, v),
          |lad AS (SELECT g, v, np, nn,
          |    CAST(coalesce(sum(nn) OVER (PARTITION BY g ORDER BY v
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS cum_nn
          |  FROM vg)
          |SELECT g, CAST(sum(np) AS BIGINT) AS n_pos,
          |  CAST(sum(nn) AS BIGINT) AS n_neg,
          |  CASE WHEN sum(np) = 0 OR sum(nn) = 0 THEN NULL
          |       ELSE CAST(CAST(sum(CAST(np AS DECIMAL(38,0))
          |           * (CAST(cum_nn AS DECIMAL(38,0)) * 2 + nn))
          |           AS DECIMAL(38,0)) AS DOUBLE)
          |         / CAST(CAST(sum(np) AS DECIMAL(38,0)) * sum(nn) * 2
          |           AS DOUBLE) END AS auc
          |FROM lad GROUP BY g ORDER BY g""".stripMargin,
      "q_xcorr_daily" ->
        """WITH daily AS (
          |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |a AS (SELECT day AS a_day, n AS a_n FROM daily
          |  WHERE event_type = 'click'),
          |b AS (SELECT day AS b_day, n AS b_n FROM daily
          |  WHERE event_type = 'signup'),
          |lg AS (SELECT CAST(unnest(range(-3, 4)) AS INT) AS lag),
          |j AS (SELECT lag, a_n, b_n FROM a, lg
          |  JOIN b ON b_day = a_day + lag),
          |m AS (SELECT lag, count(*) AS n_days,
          |    CAST(sum(CAST(a_n AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sa,
          |    CAST(sum(CAST(b_n AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sb,
          |    CAST(sum(CAST(a_n * b_n AS DECIMAL(30,0))) AS DECIMAL(30,0)) AS sab,
          |    CAST(sum(CAST(a_n * a_n AS DECIMAL(30,0))) AS DECIMAL(30,0)) AS saa,
          |    CAST(sum(CAST(b_n * b_n AS DECIMAL(30,0))) AS DECIMAL(30,0)) AS sbb
          |  FROM j GROUP BY lag)
          |SELECT CAST(lag AS BIGINT) AS lag, n_days,
          |  CASE WHEN n_days * saa - sa * sa = 0
          |         OR n_days * sbb - sb * sb = 0 THEN NULL
          |       ELSE CAST(n_days * sab - sa * sb AS DOUBLE)
          |         / (sqrt(CAST(n_days * saa - sa * sa AS DOUBLE))
          |           * sqrt(CAST(n_days * sbb - sb * sb AS DOUBLE))) END AS r
          |FROM m ORDER BY lag""".stripMargin,
      "q_drift_timeline" ->
        """WITH daily AS (
          |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |d0 AS (SELECT min(day) AS dmin FROM daily),
          |days AS (SELECT day, CAST(sum(n) AS BIGINT) AS n_day,
          |    (day - dmin) < 7 AS in_ref
          |  FROM daily, d0 GROUP BY day, dmin),
          |ref AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS r
          |  FROM daily JOIN days USING (day) WHERE in_ref GROUP BY 1),
          |rt AS (SELECT CAST(sum(r) AS BIGINT) AS n_ref FROM ref),
          |types AS (SELECT DISTINCT event_type FROM daily),
          |terms AS (SELECT d.day, d.n_day, d.in_ref, rt.n_ref,
          |    abs(CAST(coalesce(da.n, 0) AS DECIMAL(38,0)) * rt.n_ref
          |      - CAST(coalesce(rf.r, 0) AS DECIMAL(38,0)) * d.n_day) AS term
          |  FROM days d CROSS JOIN types t CROSS JOIN rt
          |  LEFT JOIN daily da ON da.day = d.day
          |    AND da.event_type = t.event_type
          |  LEFT JOIN ref rf ON rf.event_type = t.event_type)
          |SELECT day, n_day, in_ref,
          |  CAST(sum(term) AS DOUBLE)
          |    / (2.0 * CAST(n_day AS DOUBLE) * CAST(n_ref AS DOUBLE)) AS tv
          |FROM terms GROUP BY day, n_day, in_ref, n_ref
          |ORDER BY day""".stripMargin,
      "q_cusum_daily" ->
        """WITH daily AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |t AS (SELECT event_type, day, n,
          |        CAST(count(*) OVER wt AS BIGINT) * n
          |          - CAST(sum(n) OVER wt AS BIGINT) AS d_units
          |      FROM daily WINDOW wt AS (PARTITION BY event_type)),
          |c AS (SELECT event_type, day, n, d_units,
          |        CAST(sum(d_units) OVER wo AS BIGINT) AS cum
          |      FROM t WINDOW wo AS (PARTITION BY event_type ORDER BY day
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |m AS (SELECT *, min(cum) OVER (PARTITION BY event_type ORDER BY day
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
          |      FROM c),
          |p AS (SELECT event_type, day, n, d_units,
          |        cum - least(runmin, 0) AS cusum_units FROM m)
          |SELECT event_type, day, n, d_units, cusum_units,
          |  cusum_units = max(cusum_units) OVER (PARTITION BY event_type) AS is_peak
          |FROM p ORDER BY event_type, day""".stripMargin,
      // exact-integer numerators end in one IEEE division chain per output;
      // dow = epoch-day mod 7 (calendar dow functions disagree on origin)
      "q_seasonal_decompose" ->
        """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
          |t AS (SELECT event_type, day, n,
          |    sum(n) OVER w AS sum7, count(*) OVER w AS cnt7
          |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
          |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
          |f AS (SELECT event_type, day, n, sum7,
          |    CAST((day - DATE '1970-01-01') % 7 AS BIGINT) AS dow,
          |    n * 7 - sum7 AS dn
          |  FROM t WHERE cnt7 = 7),
          |s AS (SELECT *,
          |    sum(dn) OVER (PARTITION BY event_type, dow) AS sn,
          |    count(*) OVER (PARTITION BY event_type, dow) AS ndw FROM f)
          |SELECT event_type, day, dow, n,
          |  CAST(sum7 AS DOUBLE) / 7.0 AS trend,
          |  CAST(dn AS DOUBLE) / 7.0 AS detrended,
          |  CAST(sn AS DOUBLE) / (7.0 * CAST(ndw AS DOUBLE)) AS seasonal,
          |  CAST(dn * ndw - sn AS DOUBLE) / (7.0 * CAST(ndw AS DOUBLE))
          |    AS residual
          |FROM s ORDER BY event_type, day""".stripMargin,
      // the oracle aggregates the ORIGINAL parquet — equality across the
      // ORC write/read hop is the check (decimal scale, NTZ timestamps)
      "q_orc_roundtrip" ->
        """SELECT l_returnflag,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS sum_price,
          |  CAST(floor(epoch(max(l_shipdate))) AS BIGINT) AS max_ship_epoch
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin,
      // the early batch's REAL (float) hop is replayed on the original
      // parquet; the missing status column null-fills -> n_null_status = n
      "q_schema_drift" ->
        """WITH e AS (SELECT o_orderkey,
          |    CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price,
          |    CAST(NULL AS VARCHAR) AS status
          |  FROM orders WHERE o_orderkey % 2 = 0),
          |l AS (SELECT o_orderkey, o_totalprice AS price,
          |    o_orderstatus AS status
          |  FROM orders WHERE o_orderkey % 2 = 1),
          |u AS (SELECT * FROM e UNION ALL SELECT * FROM l)
          |SELECT CAST(o_orderkey % 2 AS BIGINT) AS batch_mod,
          |  count(*) AS n,
          |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
          |  CAST(sum(CAST(floor(price) AS BIGINT)) AS BIGINT)
          |    AS sum_price_floor,
          |  min(price) AS min_price, max(price) AS max_price,
          |  CAST(count(*) FILTER (WHERE status IS NULL) AS BIGINT)
          |    AS n_null_status
          |FROM u GROUP BY 1 ORDER BY batch_mod""".stripMargin,
      "q_entity_resolution" ->
        """WITH RECURSIVE recs AS (
          |  SELECT c_custkey AS id, c_name AS name,
          |         'cust' || CAST(c_custkey AS VARCHAR) || '@x.com' AS email
          |  FROM customer
          |  UNION ALL SELECT c_custkey + 10000000, upper(c_name),
          |         'cust' || CAST(c_custkey AS VARCHAR) || '@x.com'
          |    FROM customer WHERE c_custkey % 7 = 0
          |  UNION ALL SELECT c_custkey + 20000000, c_name,
          |         'cust' || CAST(c_custkey + 20000000 AS VARCHAR) || '@x.com'
          |    FROM customer WHERE c_custkey % 13 = 0),
          |e1 AS (SELECT min(id) OVER (PARTITION BY name) AS a_id, id AS b_id FROM recs),
          |e2 AS (SELECT min(id) OVER (PARTITION BY email) AS a_id, id AS b_id FROM recs),
          |edges0 AS (SELECT a_id, b_id FROM e1 WHERE a_id <> b_id
          |           UNION SELECT a_id, b_id FROM e2 WHERE a_id <> b_id),
          |edges AS (SELECT a_id, b_id FROM edges0
          |          UNION ALL SELECT b_id, a_id FROM edges0),
          |reach(src, dst) AS (
          |  SELECT DISTINCT a_id, a_id FROM edges
          |  UNION
          |  SELECT r.src, e.b_id FROM reach r JOIN edges e ON e.a_id = r.dst),
          |clus AS (SELECT src AS id, min(dst) AS entity FROM reach GROUP BY src),
          |ent AS (SELECT recs.id AS record_id,
          |               coalesce(clus.entity, recs.id) AS entity_id
          |        FROM recs LEFT JOIN clus ON clus.id = recs.id)
          |SELECT record_id, entity_id,
          |  CAST(count(*) OVER (PARTITION BY entity_id) AS BIGINT) AS entity_size
          |FROM ent ORDER BY record_id""".stripMargin,
      "q_label_prop" ->
        """WITH baskets AS (
          |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
          |canon AS (SELECT a.item AS a, b.item AS b
          |      FROM baskets a JOIN baskets b ON a.basket = b.basket AND a.item < b.item
          |      GROUP BY 1, 2 HAVING count(*) >= 2),
          |sym AS (SELECT a AS src, b AS dst FROM canon UNION ALL SELECT b, a FROM canon),
          |l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
          |v1 AS (SELECT e.src, l.label, count(*) AS cnt
          |       FROM sym e JOIN l0 l ON l.node = e.dst GROUP BY 1, 2),
          |l1 AS (SELECT src AS node, label FROM (
          |         SELECT src, label, row_number() OVER
          |           (PARTITION BY src ORDER BY cnt DESC, label) AS rk FROM v1) t
          |       WHERE rk = 1),
          |v2 AS (SELECT e.src, l.label, count(*) AS cnt
          |       FROM sym e JOIN l1 l ON l.node = e.dst GROUP BY 1, 2),
          |l2 AS (SELECT src AS node, label FROM (
          |         SELECT src, label, row_number() OVER
          |           (PARTITION BY src ORDER BY cnt DESC, label) AS rk FROM v2) t
          |       WHERE rk = 1),
          |v3 AS (SELECT e.src, l.label, count(*) AS cnt
          |       FROM sym e JOIN l2 l ON l.node = e.dst GROUP BY 1, 2),
          |l3 AS (SELECT src AS node, label FROM (
          |         SELECT src, label, row_number() OVER
          |           (PARTITION BY src ORDER BY cnt DESC, label) AS rk FROM v3) t
          |       WHERE rk = 1)
          |SELECT node AS item, label AS community,
          |  CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
          |FROM l3 ORDER BY item""".stripMargin,
      "q_er_incremental" ->
        """WITH RECURSIVE hrecs AS (
          |  SELECT c_custkey AS id, c_name AS name,
          |         'cust' || CAST(c_custkey AS VARCHAR) || '@x.com' AS email
          |  FROM customer
          |  UNION ALL SELECT c_custkey + 10000000, upper(c_name),
          |         'cust' || CAST(c_custkey AS VARCHAR) || '@x.com'
          |    FROM customer WHERE c_custkey % 7 = 0
          |  UNION ALL SELECT c_custkey + 20000000, c_name,
          |         'cust' || CAST(c_custkey + 20000000 AS VARCHAR) || '@x.com'
          |    FROM customer WHERE c_custkey % 13 = 0),
          |he1 AS (SELECT min(id) OVER (PARTITION BY name) AS a_id, id AS b_id FROM hrecs),
          |he2 AS (SELECT min(id) OVER (PARTITION BY email) AS a_id, id AS b_id FROM hrecs),
          |hedges0 AS (SELECT a_id, b_id FROM he1 WHERE a_id <> b_id
          |            UNION SELECT a_id, b_id FROM he2 WHERE a_id <> b_id),
          |hedges AS (SELECT a_id, b_id FROM hedges0
          |           UNION ALL SELECT b_id, a_id FROM hedges0),
          |hreach(src, dst) AS (
          |  SELECT DISTINCT a_id, a_id FROM hedges
          |  UNION
          |  SELECT r.src, e.b_id FROM hreach r JOIN hedges e ON e.a_id = r.dst),
          |hclus AS (SELECT src AS id, min(dst) AS entity FROM hreach GROUP BY src),
          |hent AS (SELECT hrecs.id, coalesce(hclus.entity, hrecs.id) AS entity
          |         FROM hrecs LEFT JOIN hclus ON hclus.id = hrecs.id),
          |batch AS (
          |  SELECT c_custkey + 30000000 AS id, upper(c_name) AS name,
          |         'cust' || CAST(c_custkey AS VARCHAR) || '@x.com' AS email
          |    FROM customer WHERE c_custkey % 5 = 0
          |  UNION ALL SELECT c_custkey + 40000000, upper(c_name),
          |         'batch' || CAST(c_custkey + 40000000 AS VARCHAR) || '@x.com'
          |    FROM customer WHERE c_custkey % 11 = 0),
          |be1 AS (SELECT min(id) OVER (PARTITION BY name) AS a_id, id AS b_id FROM batch),
          |be2 AS (SELECT min(id) OVER (PARTITION BY email) AS a_id, id AS b_id FROM batch),
          |bedges0 AS (SELECT a_id, b_id FROM be1 WHERE a_id <> b_id
          |            UNION SELECT a_id, b_id FROM be2 WHERE a_id <> b_id),
          |bedges AS (SELECT a_id, b_id FROM bedges0
          |           UNION ALL SELECT b_id, a_id FROM bedges0),
          |breach(src, dst) AS (
          |  SELECT DISTINCT a_id, a_id FROM bedges
          |  UNION
          |  SELECT r.src, e.b_id FROM breach r JOIN bedges e ON e.a_id = r.dst),
          |bclus AS (SELECT src AS id, min(dst) AS bent FROM breach GROUP BY src),
          |bent AS (SELECT batch.id, coalesce(bclus.bent, batch.id) AS bent
          |         FROM batch LEFT JOIN bclus ON bclus.id = batch.id),
          |m AS (SELECT b.id, he.entity FROM batch b
          |        JOIN hrecs h ON h.name = b.name JOIN hent he ON he.id = h.id
          |      UNION ALL
          |      SELECT b.id, he.entity FROM batch b
          |        JOIN hrecs h ON h.email = b.email JOIN hent he ON he.id = h.id),
          |adopt AS (SELECT id, min(entity) AS adopt FROM m GROUP BY id),
          |x AS (SELECT bent.id AS record_id, bent.bent,
          |        min(adopt.adopt) OVER (PARTITION BY bent.bent) AS centity
          |      FROM bent LEFT JOIN adopt ON adopt.id = bent.id)
          |SELECT record_id, coalesce(centity, bent) AS entity_id,
          |       centity IS NULL AS is_new
          |FROM x ORDER BY record_id""".stripMargin,
      "q_path_mining" ->
        """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
          |                  event_id, event_type FROM events),
          |l AS (SELECT event_type,
          |        lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS s1,
          |        lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id) AS s2
          |      FROM e)
          |SELECT event_type || ' > ' || s1 || ' > ' || s2 AS path, count(*) AS n
          |FROM l WHERE s1 IS NOT NULL AND s2 IS NOT NULL
          |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,
      "q_train_split" ->
        """SELECT doc_id,
          |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_v1'), 1, 8)) AS BIGINT) % 100 AS bucket,
          |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_v1'), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
          |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_v1'), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_sample_stratified" ->
        """SELECT doc_id, lang FROM documents
          |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_sample_v1'), 1, 8)) AS BIGINT) % 100
          |      < CASE WHEN lang = 'en' THEN 37 ELSE 83 END
          |ORDER BY doc_id""".stripMargin,
      "q_sample_weighted" ->
        """WITH p AS (
          |  SELECT doc_id, lang,
          |    CASE WHEN lang = 'en' THEN 1 ELSE 4 END AS w,
          |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_wsample_v1'), 1, 13)) AS BIGINT) + 1)
          |      / 4503599627370496.0 AS u
          |  FROM documents),
          |t AS (
          |  SELECT doc_id, lang, w,
          |    CASE WHEN w = 4 THEN sqrt(sqrt(u))
          |         WHEN w = 2 THEN sqrt(u)
          |         ELSE u END AS pri
          |  FROM p ORDER BY pri DESC LIMIT 100)
          |SELECT doc_id, lang, w, pri FROM t ORDER BY doc_id""".stripMargin,
      "q_sample_epochs" ->
        """WITH p AS (SELECT doc_id, lang,
          |  (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_epochs_v1'), 1, 13)) AS BIGINT) + 1)
          |    / 4503599627370496.0 AS u,
          |  CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1 WHEN 'fr' THEN 1 ELSE 0 END AS whole,
          |  CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE) WHEN 'de' THEN CAST(0.25 AS DOUBLE)
          |            WHEN 'es' THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS frac
          | FROM documents),
          |c AS (SELECT doc_id, lang,
          |  CAST(whole + CASE WHEN u <= frac THEN 1 ELSE 0 END AS BIGINT) AS n_copies
          | FROM p WHERE whole + CASE WHEN u <= frac THEN 1 ELSE 0 END > 0)
          |SELECT doc_id, lang, n_copies,
          |  CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy
          |FROM c
          |ORDER BY doc_id, copy""".stripMargin,
      "q_quota_cap" ->
        """SELECT doc_id, lang, rk FROM (
          |  SELECT doc_id, lang,
          |    CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rk
          |  FROM documents) t WHERE rk <= 30 ORDER BY doc_id""".stripMargin,
      "q_sample_mixture" ->
        """SELECT doc_id, lang, mix_rk FROM (
          |  SELECT doc_id, lang,
          |    CAST(row_number() OVER (PARTITION BY lang
          |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|graft_mix_v1'), doc_id) AS BIGINT) AS mix_rk
          |  FROM documents) t
          |WHERE mix_rk <= CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 40
          |                          WHEN 'fr' THEN 60 ELSE 0 END
          |ORDER BY doc_id""".stripMargin,
      "q_sample_mixture_tokens" ->
        """WITH d AS (SELECT doc_id, lang,
          |  CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
          |  FROM documents),
          |r AS (SELECT doc_id, lang, n_tokens,
          |  sum(n_tokens) OVER (PARTITION BY lang
          |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|graft_mix_v1'), doc_id
          |    ROWS UNBOUNDED PRECEDING) AS cum_tokens FROM d)
          |SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
          |FROM r
          |WHERE cum_tokens - n_tokens < CASE lang WHEN 'en' THEN 10000
          |  WHEN 'de' THEN 4000 WHEN 'fr' THEN 6000 ELSE 0 END
          |ORDER BY doc_id""".stripMargin,
      "q_repetition" ->
        """WITH d AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM documents),
          |tri AS (SELECT doc_id, list_transform(range(1, greatest(len(w) - 2, 1) + 1),
          |          i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 2), ' ')) AS tri FROM d)
          |SELECT doc_id, CAST(len(tri) AS BIGINT) AS n_ngrams,
          |  CAST(len(list_distinct(tri)) AS BIGINT) AS n_distinct,
          |  1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / CAST(len(tri) AS DOUBLE) AS rep_ratio
          |FROM tri ORDER BY doc_id""".stripMargin,
      "q_redact_pii" ->
        """SELECT doc_id,
          |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(lower(text), '[0-9]{7,}')) AS BIGINT) AS n_longnums,
          |  regexp_replace(regexp_replace(lower(text),
          |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
          |    '[0-9]{7,}', '<num>', 'g') AS redacted
          |FROM documents ORDER BY doc_id""".stripMargin,
      // byte accounting exact both engines (strlen = UTF-8 bytes); the
      // zlib-side columns are verdicts — TRUE unless compression breaks
      "q_compress_signal" ->
        """SELECT source, count(*) AS n_docs,
          |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
          |  TRUE AS ok_ratio_pos, TRUE AS ok_ratio_bounded,
          |  TRUE AS ok_compresses
          |FROM documents GROUP BY source ORDER BY source""".stripMargin,
      // maximal digit runs length-filtered (no lookaround); mod-10 fold
      "q_pii_luhn" ->
        """WITH t AS (SELECT doc_id, text ||
          |  (CASE WHEN doc_id % 10 = 0 THEN ' card 4539578763621486 ok'
          |        WHEN doc_id % 10 = 5 THEN ' card 4539578763621487 bad'
          |        ELSE '' END) AS text FROM documents),
          |c AS (SELECT doc_id,
          |  list_filter(regexp_extract_all(text, '[0-9]+'), s ->
          |    length(s) >= 13 AND length(s) <= 19) AS runs FROM t),
          |v AS (SELECT doc_id, runs,
          |  list_filter(runs, s ->
          |    list_sum(list_transform(range(length(s)), i ->
          |      CASE WHEN i % 2 = 1 THEN
          |        CASE WHEN 2 * CAST(s[length(s) - i] AS INT) > 9
          |             THEN 2 * CAST(s[length(s) - i] AS INT) - 9
          |             ELSE 2 * CAST(s[length(s) - i] AS INT) END
          |      ELSE CAST(s[length(s) - i] AS INT) END)) % 10 = 0) AS ok
          |  FROM c)
          |SELECT doc_id, CAST(len(runs) AS BIGINT) AS n_digit_runs,
          |  CAST(len(ok) AS BIGINT) AS n_luhn_valid
          |FROM v ORDER BY doc_id""".stripMargin,
      "q_rare_tokens" ->
        """WITH d AS (SELECT doc_id, list_distinct(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w FROM documents),
          |tok AS (SELECT doc_id, unnest(w) AS tok FROM d),
          |dfreq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |  CAST(sum(CASE WHEN df < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
          |  CAST(sum(CASE WHEN df < 5 THEN 1 ELSE 0 END) AS DOUBLE)
          |    / CAST(count(*) AS DOUBLE) AS rare_ratio
          |FROM tok JOIN dfreq USING (tok)
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      "q_chunk_cdc" ->
        s"""WITH toks AS (
           |  SELECT doc_id,
           |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
           |  FROM documents),
           |${cdcCtes("", "toks")}
           |SELECT doc_id, chunk_id, chunk_start, chunk_end, chunk_len, chunk_md5
           |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,
      "q_chunk_cdc_dedup" ->
        s"""WITH toks AS (
           |  SELECT doc_id,
           |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
           |  FROM documents),
           |newtoks AS (
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 3 = 0
           |              THEN string_split(array_to_string(w[2:len(w)], ' '), ' ')
           |              ELSE w END AS w
           |  FROM toks),
           |${cdcCtes("o_", "toks")},
           |${cdcCtes("n_", "newtoks")},
           |ncnt AS (SELECT doc_id, count(*) AS n_chunks FROM n_chunks GROUP BY doc_id),
           |nreu AS (SELECT doc_id, count(*) AS n_reused FROM n_chunks
           |  WHERE chunk_md5 IN (SELECT chunk_md5 FROM o_chunks) GROUP BY doc_id)
           |SELECT c.doc_id, CAST(c.n_chunks AS BIGINT) AS n_chunks,
           |       CAST(coalesce(r.n_reused, 0) AS BIGINT) AS n_reused,
           |       CAST(coalesce(r.n_reused, 0) AS DOUBLE)
           |         / CAST(c.n_chunks AS DOUBLE) AS reused_ratio
           |FROM ncnt c LEFT JOIN nreu r USING (doc_id)
           |ORDER BY c.doc_id""".stripMargin,
      "q_doc_chunks" ->
        """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
          |s AS (SELECT doc_id, w,
          |        unnest(range(1, greatest(len(w) - 63, 1) + 1, 48)) AS st FROM d)
          |SELECT doc_id, CAST((st - 1) / 48 AS BIGINT) AS chunk_idx,
          |  array_to_string(w[st:st + 63], ' ') AS chunk_text,
          |  CAST(least(len(w) - st + 1, 64) AS BIGINT) AS n_tokens
          |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
      "q_vec_quantize" ->
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          |m AS (SELECT vec_id, v,
          |  sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (a, b) -> a + b)) AS l2_norm,
          |  list_max(list_transform(v, x -> abs(x))) AS max_abs FROM e),
          |q AS (SELECT vec_id, l2_norm, max_abs,
          |  list_transform(v, x -> CASE WHEN max_abs = 0 THEN CAST(0 AS BIGINT)
          |    ELSE CAST(floor(x * (127.0 / max_abs)) AS BIGINT) END) AS qv FROM m)
          |SELECT vec_id, l2_norm, max_abs,
          |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qv), (a, b) -> a + b) AS BIGINT) AS q_sum,
          |  CAST(list_min(qv) AS BIGINT) AS q_min,
          |  CAST(list_max(qv) AS BIGINT) AS q_max
          |FROM q ORDER BY vec_id""".stripMargin,
      // ±1 sign = parity of first md5 hex digit of "rp_j_i"; projection and
      // norm are sequential double folds — order matches Spark's aggregate().
      // Scalar-only output (proj_0..proj_7, not the array) so the comparator
      // can lexsort/hash the frame.
      "q_vec_project" ->
        """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
          |p AS (SELECT vec_id,
          |  list_transform(range(0, 8), j ->
          |    list_reduce(list_prepend(0.0, list_transform(range(0, 64), i ->
          |      emb[CAST(i AS INT) + 1] * CAST((CAST(('0x' || substr(md5('rp_' || j || '_' || i), 1, 1)) AS BIGINT) % 2) * 2 - 1 AS DOUBLE))),
          |      (x, y) -> x + y)) AS proj
          |  FROM v)
          |SELECT vec_id,
          |  proj[1] AS proj_0, proj[2] AS proj_1, proj[3] AS proj_2, proj[4] AS proj_3,
          |  proj[5] AS proj_4, proj[6] AS proj_5, proj[7] AS proj_6, proj[8] AS proj_7,
          |  list_reduce(list_prepend(0.0, list_transform(proj, x -> x * x)), (a, b) -> a + b) AS norm2
          |FROM p ORDER BY vec_id""".stripMargin,
      // residual PQ: coarse IVF chain supplies assignment + centroids, the
      // PQ chain re-runs over residuals v - c with the same VARCHAR-hop
      // decimal discipline (computed doubles, not raw floats, flow into it)
      "q_vec_rpq" ->
        s"""WITH ${ivfCtes("r_")},
           |$rpqCtes,
           |p AS (SELECT vec_id,
           |        CAST(max(CASE WHEN s = 0 THEN code END) AS BIGINT) AS code_0,
           |        CAST(max(CASE WHEN s = 1 THEN code END) AS BIGINT) AS code_1,
           |        CAST(max(CASE WHEN s = 2 THEN code END) AS BIGINT) AS code_2,
           |        CAST(max(CASE WHEN s = 3 THEN code END) AS BIGINT) AS code_3,
           |        CAST(max(CASE WHEN s = 4 THEN code END) AS BIGINT) AS code_4,
           |        CAST(max(CASE WHEN s = 5 THEN code END) AS BIGINT) AS code_5,
           |        CAST(max(CASE WHEN s = 6 THEN code END) AS BIGINT) AS code_6,
           |        CAST(max(CASE WHEN s = 7 THEN code END) AS BIGINT) AS code_7
           |      FROM rpa2 GROUP BY vec_id)
           |SELECT p.vec_id, CAST(a.list AS BIGINT) AS list,
           |  code_0, code_1, code_2, code_3, code_4, code_5, code_6, code_7,
           |  code_0 + code_1 * 16 + code_2 * 256 + code_3 * 4096
           |    + code_4 * 65536 + code_5 * 1048576 + code_6 * 16777216
           |    + code_7 * 268435456 AS pq_code
           |FROM p JOIN r_a2 a USING (vec_id) ORDER BY p.vec_id""".stripMargin,
      "q_vec_pq" ->
        s"""WITH $pqCtes,
          |p AS (SELECT vec_id,
          |        CAST(max(CASE WHEN s = 0 THEN code END) AS BIGINT) AS code_0,
          |        CAST(max(CASE WHEN s = 1 THEN code END) AS BIGINT) AS code_1,
          |        CAST(max(CASE WHEN s = 2 THEN code END) AS BIGINT) AS code_2,
          |        CAST(max(CASE WHEN s = 3 THEN code END) AS BIGINT) AS code_3,
          |        CAST(max(CASE WHEN s = 4 THEN code END) AS BIGINT) AS code_4,
          |        CAST(max(CASE WHEN s = 5 THEN code END) AS BIGINT) AS code_5,
          |        CAST(max(CASE WHEN s = 6 THEN code END) AS BIGINT) AS code_6,
          |        CAST(max(CASE WHEN s = 7 THEN code END) AS BIGINT) AS code_7
          |      FROM a2 GROUP BY vec_id)
          |SELECT vec_id, code_0, code_1, code_2, code_3, code_4, code_5, code_6, code_7,
          |  CAST((code_0 << 0) + (code_1 << 4) + (code_2 << 8) + (code_3 << 12)
          |     + (code_4 << 16) + (code_5 << 20) + (code_6 << 24) + (code_7 << 28) AS BIGINT) AS pq_code
          |FROM p ORDER BY vec_id""".stripMargin,
      // ADC: query q's distance to corpus vector x = sum over subspaces of
      // d1(q, s, code_x(s)) — the query-side lookup table IS the d1 rows of
      // the query vector under the final (post-Lloyd) codebook
      "q_vec_adc" ->
        s"""WITH $pqCtes,
          |adc AS (SELECT d1.vec_id AS q_id, x.vec_id AS n_id,
          |          sum(d1.dist2) AS adist
          |        FROM a2 x JOIN d1 ON d1.s = x.s AND d1.code = x.code
          |        WHERE d1.vec_id < 8 AND x.vec_id <> d1.vec_id
          |        GROUP BY 1, 2),
          |r AS (SELECT q_id, n_id, adist,
          |        CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, n_id) AS BIGINT) AS rk
          |      FROM adc)
          |SELECT q_id, rk, n_id, CAST(adist AS VARCHAR) AS adist
          |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,
      "q_curation" ->
        s"""WITH $curationCtes
           |SELECT doc_id FROM surv WHERE doc_id NOT IN (SELECT b_id FROM losers)
           |ORDER BY doc_id""".stripMargin,
      "q_curation_v2" ->
        s"""WITH $curationCtes,
           |kept AS (SELECT doc_id FROM surv
           |  WHERE doc_id NOT IN (SELECT b_id FROM losers)),
           |rep AS (SELECT doc_id,
           |    1.0 - CAST(len(list_distinct(tri)) AS DOUBLE) / CAST(len(tri) AS DOUBLE) AS rep_ratio
           |  FROM (SELECT doc_id, list_transform(range(1, greatest(len(w) - 2, 1) + 1),
           |          i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 2), ' ')) AS tri
           |        FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
           |              FROM documents) dd) tt),
           |base AS (SELECT k.doc_id, d.lang FROM kept k
           |  JOIN documents d USING (doc_id) JOIN rep r USING (doc_id)
           |  WHERE r.rep_ratio <= 0.5),
           |samp AS (SELECT doc_id, lang FROM base
           |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_sample_v1'), 1, 8)) AS BIGINT) % 100
           |        < CASE WHEN lang = 'en' THEN 50 ELSE 90 END),
           |capped AS (SELECT doc_id, lang,
           |    CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rk
           |  FROM samp)
           |SELECT doc_id, lang, rk FROM capped WHERE rk <= 40 ORDER BY doc_id""".stripMargin,
      // v3: the full manifest composition — kernel -> containment ->
      // decontaminate -> chunk -> pack -> split — as one CTE chain. The
      // packing cumsum is the naive global-window form; the Spark side's
      // bucketed-offsets formulation is bit-identical by construction.
      "q_curation_v3" ->
        s"""WITH $curationCtes,
           |kept AS (SELECT s.doc_id, s.text FROM surv s
           |  WHERE s.doc_id NOT IN (SELECT b_id FROM losers)),
           |kd AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM kept),
           |ksh AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
           |          i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 2), ' '))) AS sh FROM kd),
           |ktok AS (SELECT doc_id, unnest(sh) AS tok FROM ksh),
           |kn AS (SELECT doc_id, len(sh) AS n_sh FROM ksh),
           |kinter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
           |  FROM ktok a JOIN ktok b ON a.tok = b.tok AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |closers AS (SELECT DISTINCT b_id FROM kinter
           |  JOIN kn na ON na.doc_id = a_id JOIN kn nb ON nb.doc_id = b_id
           |  WHERE CAST(inter AS DOUBLE) / CAST(least(na.n_sh, nb.n_sh) AS DOUBLE) >= 0.8),
           |ac AS (SELECT doc_id, text FROM kept
           |  WHERE doc_id NOT IN (SELECT b_id FROM closers)),
           |acg AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 7, 1) + 1),
           |          i -> array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 7), ' '))) AS g
           |  FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w FROM ac) x),
           |bench AS (SELECT DISTINCT unnest(g) AS gram FROM acg WHERE doc_id % 10 = 0),
           |train AS (SELECT doc_id, g FROM acg WHERE doc_id % 10 <> 0),
           |hits AS (SELECT t.doc_id, count(*) AS n_hit
           |  FROM (SELECT doc_id, unnest(g) AS gram FROM train) t
           |  JOIN bench USING (gram) GROUP BY t.doc_id),
           |clean AS (SELECT tr.doc_id FROM train tr LEFT JOIN hits h USING (doc_id)
           |  WHERE coalesce(h.n_hit, 0) = 0),
           |cd AS (SELECT c.doc_id, string_split_regex(trim(a.text), '\\s+') AS w
           |  FROM clean c JOIN ac a USING (doc_id)),
           |cs AS (SELECT doc_id, w,
           |  unnest(range(1, greatest(len(w) - 63, 1) + 1, 48)) AS st FROM cd),
           |chunks AS (SELECT doc_id, CAST((st - 1) / 48 AS BIGINT) AS chunk_idx,
           |  CAST(least(len(w) - st + 1, 64) AS BIGINT) AS n_tokens FROM cs),
           |p AS (SELECT doc_id, chunk_idx, n_tokens,
           |  CAST(sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |    - n_tokens AS token_start
           |  FROM chunks)
           |SELECT doc_id, chunk_idx, n_tokens, token_start,
           |  CAST(token_start // ${CurationPipeline.PackBudget} AS BIGINT) AS pack_id,
           |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_v1'), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
           |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_v1'), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM p ORDER BY doc_id, chunk_idx""".stripMargin,
      // v3's chain with the passage scrub inserted between decontamination
      // and chunking: spans detected WITHIN the surviving set, tokens cut,
      // chunking consumes the scrubbed normalized token stream
      "q_curation_v4" ->
        s"""WITH $curationCtes,
           |$manifestScrubCtes
           |SELECT doc_id, chunk_idx, n_tokens, token_start, pack_id, split
           |FROM mman ORDER BY doc_id, chunk_idx""".stripMargin,
      // v5: v4's manifest from a blocklist-pre-gated corpus, plus shard
      // layout — packs bin into fixed-token output shards in pack order
      // (the Compaction.assign placement over the pack relation)
      // v6 export pipeline: url-canon dedup -> luhn gate -> line scrub
      // over survivors -> length-bucket batches -> round-robin shards
      "q_curation_v6" ->
        """WITH t0 AS (SELECT doc_id, text ||
          |  (CASE WHEN doc_id % 10 = 0 THEN ' card 4539578763621486 ok'
          |        WHEN doc_id % 10 = 5 THEN ' card 4539578763621487 bad'
          |        ELSE '' END) AS text FROM documents),
          |uu AS (SELECT doc_id,
          |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
          |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
          |  'Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM' ||
          |  (CASE WHEN doc_id % 2 = 0 THEN ':80'
          |        WHEN doc_id % 5 = 0 THEN ':8080' ELSE ':443' END) ||
          |  '/Docs//Item/' || CAST(doc_id // 20 AS VARCHAR) ||
          |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
          |  '?utm_source=feed&id=' || CAST(doc_id % 10 AS VARCHAR) ||
          |  '&ref=track#Sec' || CAST(doc_id % 7 AS VARCHAR) AS url
          |  FROM documents),
          |uc AS (SELECT doc_id,
          |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
          |  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
          |  FROM uu),
          |uhp AS (SELECT doc_id, scheme,
          |  regexp_extract(rest, '^([^/?#]+)', 1) AS hostport,
          |  regexp_replace(rest, '^[^/?#]+', '') AS pq FROM uc),
          |uh AS (SELECT *,
          |  regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')),
          |    '^www\.', '') AS host,
          |  regexp_extract(hostport, ':([0-9]+)$', 1) AS rawport FROM uhp),
          |up1 AS (SELECT *,
          |  CASE WHEN (scheme = 'http' AND rawport = '80')
          |         OR (scheme = 'https' AND rawport = '443')
          |       THEN '' ELSE rawport END AS port,
          |  regexp_replace(regexp_extract(pq, '^([^?#]*)', 1),
          |    '/{2,}', '/', 'g') AS path0,
          |  regexp_extract(pq, '\?([^#]*)', 1) AS q0 FROM uh),
          |up2 AS (SELECT *,
          |  CASE WHEN length(path0) = 0 THEN '/'
          |       WHEN length(path0) > 1 THEN regexp_replace(path0, '/$', '')
          |       ELSE path0 END AS path,
          |  array_to_string(list_filter(string_split(q0, '&'), x ->
          |    length(x) > 0 AND substr(x, 1, 4) <> 'utm_'
          |      AND substr(x, 1, 4) <> 'ref='), '&') AS query FROM up1),
          |ucanon AS (SELECT doc_id,
          |  scheme || '://' || host ||
          |  (CASE WHEN port = '' THEN '' ELSE ':' || port END) || path ||
          |  (CASE WHEN query = '' THEN '' ELSE '?' || query END) AS canon_url
          |  FROM up2),
          |ukeep AS (SELECT min(doc_id) AS doc_id FROM ucanon GROUP BY canon_url),
          |lc AS (SELECT doc_id,
          |  list_filter(regexp_extract_all(text, '[0-9]+'), s ->
          |    length(s) >= 13 AND length(s) <= 19) AS runs FROM t0),
          |lv AS (SELECT doc_id FROM (SELECT doc_id,
          |  list_filter(runs, s ->
          |    list_sum(list_transform(range(length(s)), i ->
          |      CASE WHEN i % 2 = 1 THEN
          |        CASE WHEN 2 * CAST(s[length(s) - i] AS INT) > 9
          |             THEN 2 * CAST(s[length(s) - i] AS INT) - 9
          |             ELSE 2 * CAST(s[length(s) - i] AS INT) END
          |      ELSE CAST(s[length(s) - i] AS INT) END)) % 10 = 0) AS ok
          |  FROM lc) z WHERE len(ok) = 0),
          |surv AS (SELECT t0.doc_id, t0.text FROM t0
          |  JOIN ukeep USING (doc_id) JOIN lv USING (doc_id)),
          |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM surv),
          |ln AS (SELECT doc_id, CAST(i AS BIGINT) AS line_no,
          |    array_to_string(ws[i*2+1 : i*2+2], ' ') AS line
          |  FROM w, LATERAL (SELECT unnest(range(0, (len(ws)-1)//2 + 1)) AS i) t),
          |pd AS (SELECT DISTINCT line, doc_id FROM ln),
          |df AS (SELECT line, CAST(count(*) AS BIGINT) AS doc_freq
          |  FROM pd GROUP BY line),
          |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM surv),
          |hot AS (SELECT line FROM df, nd WHERE doc_freq * 20 >= n_docs),
          |kept AS (SELECT * FROM ln
          |  WHERE line NOT IN (SELECT line FROM hot)),
          |rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines,
          |    string_agg(line, ' ' ORDER BY line_no) AS text_kept
          |  FROM kept GROUP BY doc_id),
          |sc AS (SELECT doc_id, text_kept AS text FROM rb
          |  WHERE kept_lines > 0),
          |bt AS (SELECT doc_id,
          |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
          |  FROM sc),
          |bb AS (SELECT doc_id, n_tokens,
          |  CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
          |       WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
          |       WHEN n_tokens <= 256 THEN 256 WHEN n_tokens <= 512 THEN 512
          |       ELSE 1024 END AS bucket FROM bt),
          |br AS (SELECT doc_id, n_tokens, bucket,
          |  row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1 AS pos
          |  FROM bb)
          |SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket,
          |  CAST(pos // (4096 // bucket) AS BIGINT) AS batch_idx,
          |  CAST((pos // (4096 // bucket)) % 4 AS BIGINT) AS shard
          |FROM br ORDER BY doc_id""".stripMargin,
      "q_curation_v5" ->
        s"""WITH docf AS (SELECT * FROM documents
           |  WHERE NOT (len(list_filter(['slow join', 'fast scan'],
           |    p -> contains(' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' ',
           |                  ' ' || p || ' '))) > 0)),
           |${curationCtesFrom("docf")},
           |$manifestScrubCtes,
           |pk AS (SELECT pack_id, sum(n_tokens) AS ptok FROM mman GROUP BY pack_id),
           |pa AS (SELECT pack_id,
           |    coalesce(sum(ptok) OVER (ORDER BY pack_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      // ${CurationPipeline.ShardTokens} AS shard
           |  FROM pk)
           |SELECT m.doc_id, m.chunk_idx, m.n_tokens, m.token_start, m.pack_id,
           |       m.split, CAST(pa.shard AS BIGINT) AS shard
           |FROM mman m JOIN pa USING (pack_id)
           |ORDER BY m.doc_id, m.chunk_idx""".stripMargin,
      // one full-corpus MinHash pair chain serves BOTH near-dup stages:
      // banding pairs over a subset equal the full chain restricted to the
      // subset (signatures are per-doc). Stages attribute first-failing.
      "q_curation_incr" ->
        s"""WITH $minhashPairCtes,
           |b AS (SELECT doc_id, text,
           |    ' ' || trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) || ' ' AS n,
           |    CAST(length(text) AS BIGINT) AS len,
           |    CAST(len(list_filter(string_split(text, ' '),
           |          t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
           |      / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS stop_ratio
           |  FROM documents WHERE doc_id % 5 = 0),
           |fl AS (SELECT doc_id,
           |    len(list_filter(['slow join'], p -> contains(n, ' ' || p || ' '))) > 0 AS blocked,
           |    NOT (len BETWEEN 100 AND 520 AND stop_ratio >= 0.03) AS lowq
           |  FROM b),
           |g AS (SELECT doc_id FROM fl WHERE NOT blocked AND NOT lowq),
           |fps AS (SELECT doc_id,
           |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
           |  FROM documents),
           |ex AS (SELECT g.doc_id FROM g JOIN fps bf USING (doc_id)
           |  WHERE bf.fp IN (SELECT fp FROM fps WHERE doc_id % 5 <> 0)
           |  UNION
           |  SELECT doc_id FROM (
           |    SELECT g.doc_id,
           |      row_number() OVER (PARTITION BY bf.fp ORDER BY g.doc_id) AS rn
           |    FROM g JOIN fps bf USING (doc_id)) x WHERE rn > 1),
           |h AS (SELECT doc_id FROM g WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
           |nearh AS (SELECT DISTINCT CASE WHEN a_id % 5 = 0 THEN a_id ELSE b_id END AS doc_id
           |  FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5
           |    AND ((a_id % 5 = 0) <> (b_id % 5 = 0))
           |    AND (CASE WHEN a_id % 5 = 0 THEN a_id ELSE b_id END)
           |        IN (SELECT doc_id FROM h)),
           |nearw AS (SELECT DISTINCT b_id AS doc_id FROM jac
           |  WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5
           |    AND a_id % 5 = 0 AND b_id % 5 = 0
           |    AND a_id IN (SELECT doc_id FROM h)
           |    AND b_id IN (SELECT doc_id FROM h)),
           |nd AS (SELECT doc_id FROM nearh UNION SELECT doc_id FROM nearw)
           |SELECT fl.doc_id,
           |  CASE WHEN blocked THEN 'blocklist'
           |       WHEN lowq THEN 'quality'
           |       WHEN fl.doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup'
           |       WHEN fl.doc_id IN (SELECT doc_id FROM nd) THEN 'near_dup'
           |       ELSE 'kept' END AS stage
           |FROM fl ORDER BY fl.doc_id""".stripMargin,
      "q_ref_pipeline" ->
        s"""SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
           |       CAST(l_linenumber AS VARCHAR) AS l_linenumber,
           |       CASE WHEN lower(l_returnflag) = 'null' THEN NULL ELSE l_returnflag END AS l_returnflag,
           |       CASE WHEN lower(l_linestatus) = 'null' THEN NULL ELSE l_linestatus END AS l_linestatus,
           |       CAST(CAST(floor(epoch(l_shipdate)) AS BIGINT) AS VARCHAR) AS ts_epoch
           |FROM lineitem
           |WHERE CAST(floor(epoch(l_shipdate)) AS BIGINT) > $Start
           |ORDER BY CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT),
           |  l_returnflag, l_linestatus, CAST(ts_epoch AS BIGINT)""".stripMargin,
      // the Derby hop + chunked JDBC scan is identity on the slice; the
      // oracle reads the same mod-slice straight off the parquet
      "q_ref_loop_db" ->
        s"""SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
           |       CAST(l_linenumber AS VARCHAR) AS l_linenumber,
           |       CASE WHEN lower(l_returnflag) = 'null' THEN NULL ELSE l_returnflag END AS l_returnflag,
           |       CASE WHEN lower(l_linestatus) = 'null' THEN NULL ELSE l_linestatus END AS l_linestatus,
           |       CAST(CAST(floor(epoch(l_shipdate)) AS BIGINT) AS VARCHAR) AS ts_epoch
           |FROM lineitem
           |WHERE CAST(l_orderkey AS BIGINT) % 10 = 0
           |  AND CAST(floor(epoch(l_shipdate)) AS BIGINT) > $Start
           |ORDER BY CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT),
           |  l_returnflag, l_linestatus, CAST(ts_epoch AS BIGINT)""".stripMargin,
      "q_scalar_strings" ->
        """SELECT doc_id,
          |  upper(lang) AS s_upper, lower(source) AS s_lower,
          |  CAST(length(text) AS BIGINT) AS s_len,
          |  substr(text, 3, 10) AS s_substr,
          |  concat_ws('|', lang, source) AS s_concat,
          |  trim('  x  ') AS s_trim,
          |  lpad(lang, 5, '_') AS s_lpad, rpad(lang, 5, '_') AS s_rpad,
          |  replace(source, 'src', 'origin') AS s_replace,
          |  string_split(text, ' ')[1] AS s_first_tok,
          |  regexp_extract(text, '([a-z]+)', 1) AS s_re_first,
          |  reverse(lang) AS s_reverse,
          |  CAST(instr(text, 'the') AS BIGINT) AS s_instr,
          |  left(text, 5) AS s_left,
          |  repeat(lang, 2) AS s_repeat
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_scalar_dates" ->
        """SELECT event_id,
          |  CAST(year(ts) AS BIGINT) AS d_year,
          |  CAST(month(ts) AS BIGINT) AS d_month,
          |  CAST(day(ts) AS BIGINT) AS d_day,
          |  CAST(hour(ts) AS BIGINT) AS d_hour,
          |  CAST(minute(ts) AS BIGINT) AS d_minute,
          |  CAST(dayofyear(ts) AS BIGINT) AS d_doy,
          |  CAST(isodow(ts) AS BIGINT) AS d_isodow,
          |  date_trunc('day', ts) AS d_trunc_day,
          |  CAST(CAST(ts AS DATE) + INTERVAL 30 DAY AS DATE) AS d_plus30,
          |  last_day(CAST(ts AS DATE)) AS d_last_day,
          |  CAST(quarter(ts) AS BIGINT) AS d_quarter
          |FROM events ORDER BY event_id""".stripMargin,
      "q_scalar_arrays" ->
        """SELECT vec_id,
          |  CAST(len(embedding) AS BIGINT) AS a_size,
          |  CAST(embedding[1] AS DOUBLE) AS a_first,
          |  CAST(embedding[-1] AS DOUBLE) AS a_last,
          |  CAST(list_max(embedding) AS DOUBLE) AS a_max,
          |  CAST(list_min(embedding) AS DOUBLE) AS a_min,
          |  CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS a_argmax,
          |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS a_n_pos,
          |  list_reduce(list_prepend(0.0, list_transform(embedding,
          |    x -> CAST(x AS DOUBLE))), (a, b) -> a + b) AS a_sum,
          |  CAST(list_sort(embedding[1:4])[1] AS DOUBLE) AS a_sorted_head
          |FROM embeddings ORDER BY vec_id""".stripMargin,
      "q_intersect" ->
        """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          |INTERSECT
          |SELECT c_custkey FROM customer WHERE c_acctbal > 1000
          |ORDER BY c_custkey""".stripMargin,
      "q_resample_ffill" ->
        """WITH obs AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
          |                    event_id, value FROM events),
          |b AS (SELECT user_id,
          |        CAST(floor(min(t) / 3600) * 3600 AS BIGINT) AS lo,
          |        CAST(floor(max(t) / 3600) * 3600 AS BIGINT) AS hi
          |      FROM obs GROUP BY user_id),
          |grid AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS t FROM b),
          |tagged AS (
          |  SELECT user_id, t, 0 AS side, event_id, value FROM obs
          |  UNION ALL
          |  SELECT user_id, t, 1 AS side, NULL AS event_id, NULL AS value FROM grid),
          |f AS (SELECT user_id, t, side,
          |  last_value(value IGNORE NULLS) OVER
          |    (PARTITION BY user_id ORDER BY t, side, event_id NULLS LAST
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value,
          |  last_value(event_id IGNORE NULLS) OVER
          |    (PARTITION BY user_id ORDER BY t, side, event_id NULLS LAST
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_event
          |  FROM tagged)
          |SELECT user_id, t AS slot_sec, ffill_event, ffill_value
          |FROM f WHERE side = 1 ORDER BY user_id, slot_sec""".stripMargin,
      // same tagged-union skeleton as ffill plus a backward pass; the
      // interpolation arithmetic is IEEE double in the identical
      // parenthesization as the operator, so the hash matches bit-exactly
      "q_resample_interp" ->
        """WITH obs AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
          |                    event_id, value FROM events),
          |b AS (SELECT user_id,
          |        CAST(floor(min(t) / 3600) * 3600 AS BIGINT) AS lo,
          |        CAST(floor(max(t) / 3600) * 3600 AS BIGINT) AS hi
          |      FROM obs GROUP BY user_id),
          |grid AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS t FROM b),
          |tagged AS (
          |  SELECT user_id, t, 0 AS side, event_id, value FROM obs
          |  UNION ALL
          |  SELECT user_id, t, 1 AS side, NULL AS event_id, NULL AS value FROM grid),
          |f AS (SELECT user_id, t, side,
          |  last_value(value IGNORE NULLS) OVER
          |    (PARTITION BY user_id ORDER BY t, side, event_id NULLS LAST
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
          |  last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER
          |    (PARTITION BY user_id ORDER BY t, side, event_id NULLS LAST
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
          |  first_value(value IGNORE NULLS) OVER
          |    (PARTITION BY user_id ORDER BY t, side, event_id NULLS LAST
          |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
          |  first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER
          |    (PARTITION BY user_id ORDER BY t, side, event_id NULLS LAST
          |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tn
          |  FROM tagged)
          |SELECT user_id, t AS slot_sec,
          |  CASE WHEN tp IS NULL THEN vn
          |       WHEN tn IS NULL THEN vp
          |       WHEN tn = tp THEN vp
          |       ELSE vp + (vn - vp) *
          |            (CAST(t - tp AS DOUBLE) / CAST(tn - tp AS DOUBLE)) END
          |    AS interp_value
          |FROM f WHERE side = 1 ORDER BY user_id, slot_sec""".stripMargin,
      "q_mm_metadata" ->
        """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |       lower(hex(encode(substr(text, 1, 4)))) AS magic,
          |       'application/octet-stream' AS content_type
          |FROM documents ORDER BY doc_id""".stripMargin,
      // the Spark side PARSES synthesized PNG/JPEG container bytes
      // (ImageHeader); the oracle independently predicts the dimensions from
      // the deterministic generation formulas and the container overhead
      // (PNG: 8B sig + 25B IHDR chunk = 33; JPEG: 2B SOI + 19B SOF0 = 21)
      "q_mm_decode" ->
        """SELECT doc_id,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 21 END
          |       + octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |  CASE WHEN doc_id % 2 = 0 THEN '89504e47' ELSE 'ffd8ffc0' END AS magic,
          |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
          |  CAST(n_chars % 512 + 1 AS INT) AS width,
          |  CAST(doc_id % 384 + 1 AS INT) AS height,
          |  CAST(n_chars % 512 + 1 AS BIGINT) * CAST(doc_id % 384 + 1 AS INT) AS n_pixels,
          |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS content_type
          |FROM documents ORDER BY doc_id""".stripMargin,
      // the oracle recomputes the expected features from the doc fields;
      // the Spark side proves the byte round-trip (synth -> box walk)
      "q_mm_video" ->
        """SELECT doc_id,
          |  CAST(600 AS BIGINT) AS timescale,
          |  CAST((doc_id % 240 + 1) * 25 AS BIGINT) AS duration,
          |  CAST((doc_id % 240 + 1) * 25 * 1000 // 600 AS BIGINT) AS duration_ms,
          |  CAST(n_chars % 400 + 100 AS BIGINT) AS mdat_bytes,
          |  CAST(3 AS BIGINT) AS n_boxes
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_mm_audio" ->
        """SELECT doc_id,
          |  CAST(8000 * (doc_id % 3 + 1) AS BIGINT) AS sample_rate,
          |  CAST(n_chars % 2 + 1 AS BIGINT) AS channels,
          |  CAST(16 AS BIGINT) AS bits,
          |  CAST(200 + n_chars % 300 AS BIGINT) AS n_samples,
          |  CAST((200 + n_chars % 300) * 1000
          |       // (8000 * (doc_id % 3 + 1)) AS BIGINT) AS duration_ms
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_mm_frames" ->
        """SELECT doc_id,
          |  CAST(least(8, greatest(octet_length(encode(text)) // 64, 1)) AS BIGINT) AS n_frames
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_mm_resize" ->
        """WITH f AS (
          |  SELECT doc_id,
          |    CAST(n_chars % 512 + 1 AS INT) AS width,
          |    CAST(doc_id % 384 + 1 AS INT) AS height
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, width, height, greatest(width, height) AS longest FROM f)
          |SELECT doc_id, width, height,
          |  CAST(CASE WHEN longest > 32
          |       THEN greatest(CAST((width * 32) // longest AS INT), 1) ELSE width END AS INT) AS out_width,
          |  CAST(CASE WHEN longest > 32
          |       THEN greatest(CAST((height * 32) // longest AS INT), 1) ELSE height END AS INT) AS out_height,
          |  CAST(CASE WHEN longest > 32
          |       THEN greatest(CAST((width * 32) // longest AS INT), 1) ELSE width END AS BIGINT)
          |    * (CASE WHEN longest > 32
          |       THEN greatest(CAST((height * 32) // longest AS INT), 1) ELSE height END) AS out_pixels
          |FROM r ORDER BY doc_id""".stripMargin,
      // the oracle recomputes the average-hash from the deterministic pixel
      // formula (synthesis is deterministic); the Spark side reaches the
      // same numbers only by a correct PNG encode -> zlib -> decode ->
      // unfilter roundtrip, so px_sum/hash parity IS the codec check
      "q_mm_phash" ->
        s"""WITH $phashCtes,
           |ps AS (SELECT img_id, CAST(sum(p) AS BIGINT) AS px_sum
           |  FROM pv GROUP BY img_id)
           |SELECT h.img_id, CAST(32 AS BIGINT) AS width,
           |  CAST(32 AS BIGINT) AS height, ps.px_sum,
           |  h.a_hash_hi, h.a_hash_lo
           |FROM h JOIN ps ON h.img_id = ps.img_id
           |ORDER BY h.img_id""".stripMargin,
      "q_mm_phash_dedup" ->
        s"""WITH $phashCtes
           |SELECT min(img_id) AS rep_id, CAST(count(*) AS BIGINT) AS n_images,
           |  a_hash_hi, a_hash_lo
           |FROM h GROUP BY a_hash_hi, a_hash_lo
           |ORDER BY rep_id""".stripMargin,
      "q_mm_phash_pairs" ->
        s"""WITH $phashCtes,
           |dh AS (SELECT DISTINCT a_hash_hi AS hi, a_hash_lo AS lo FROM h),
           |pr AS (SELECT x.hi AS a_hi, x.lo AS a_lo, y.hi AS b_hi,
           |    y.lo AS b_lo,
           |    CAST(bit_count(xor(x.hi, y.hi))
           |       + bit_count(xor(x.lo, y.lo)) AS BIGINT) AS hamming
           |  FROM dh x JOIN dh y
           |    ON (x.hi < y.hi OR (x.hi = y.hi AND x.lo < y.lo)))
           |SELECT a_hi, a_lo, b_hi, b_lo, hamming
           |FROM pr WHERE hamming BETWEEN 1 AND 3
           |ORDER BY a_hi, a_lo, b_hi, b_lo""".stripMargin,
      // deterministic waveform recompute — energy_sum/fp parity holds only
      // if every int16 sample survives the RIFF encode -> decode roundtrip
      "q_mm_audio_fp" ->
        """WITH a AS (SELECT doc_id, 320 + (doc_id % 193) AS n,
          |    8000 * ((doc_id % 3) + 1) AS rate FROM documents),
          |sv AS (SELECT doc_id, n, rate, i, (i * 32) // n AS f
          |  FROM a, LATERAL (SELECT unnest(range(0, n)) AS i) t),
          |pv AS (SELECT doc_id, n, rate, f,
          |    abs((CASE WHEN (f * ((doc_id % 6) + 3)) % 7 < 3
          |          THEN 3 ELSE 1 END)
          |        * (((i * ((doc_id % 5) + 2) + doc_id) % 200) - 100)
          |        * 25) AS e
          |  FROM sv),
          |fe AS (SELECT doc_id, f, sum(e) AS fen
          |  FROM pv GROUP BY doc_id, f),
          |tt AS (SELECT doc_id, sum(fen) AS total FROM fe GROUP BY doc_id),
          |fpt AS (SELECT fe.doc_id,
          |    CAST(sum(CASE WHEN fe.fen * 32 > tt.total
          |      THEN (CAST(1 AS BIGINT) << CAST(fe.f AS INTEGER))
          |      ELSE 0 END) AS BIGINT) AS fp
          |  FROM fe JOIN tt ON fe.doc_id = tt.doc_id GROUP BY fe.doc_id)
          |SELECT a.doc_id, CAST(a.rate AS BIGINT) AS sample_rate,
          |  CAST(a.n AS BIGINT) AS n_samples,
          |  CAST(tt.total AS BIGINT) AS energy_sum, fpt.fp
          |FROM a JOIN tt ON a.doc_id = tt.doc_id
          |  JOIN fpt ON a.doc_id = fpt.doc_id
          |ORDER BY a.doc_id""".stripMargin,
      "q_zorder_layout" -> {
        // Morton interleave unrolled to 32 bitwise terms — bit j of dim i
        // lands at position j*2+i, mirroring ZOrder.interleave exactly
        val terms = (0 until 16).flatMap(j => Seq(
          s"(((nx >> $j) & 1) << ${2 * j})",
          s"(((ny >> $j) & 1) << ${2 * j + 1})")).mkString(" | ")
        s"""WITH stats AS (
           |  SELECT CAST(min(l_partkey) AS BIGINT) AS pmin, CAST(max(l_partkey) AS BIGINT) AS pmax,
           |         CAST(min(l_suppkey) AS BIGINT) AS smin, CAST(max(l_suppkey) AS BIGINT) AS smax
           |  FROM lineitem),
           |norm AS (
           |  SELECT l_partkey, l_suppkey,
           |         ((CAST(l_partkey AS BIGINT) - pmin) * 65535) // (pmax - pmin) AS nx,
           |         ((CAST(l_suppkey AS BIGINT) - smin) * 65535) // (smax - smin) AS ny
           |  FROM lineitem, stats),
           |z AS (SELECT l_partkey, l_suppkey, ($terms) AS zkey FROM norm)
           |SELECT (zkey * 32) // 4294967296 AS bucket,
           |       count(*) AS n_rows,
           |       CAST(min(l_partkey) AS BIGINT) AS l_partkey_min,
           |       CAST(max(l_partkey) AS BIGINT) AS l_partkey_max,
           |       CAST(min(l_suppkey) AS BIGINT) AS l_suppkey_min,
           |       CAST(max(l_suppkey) AS BIGINT) AS l_suppkey_max
           |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin
      },
      "q_hilbert_layout" -> {
        // xy2d bit-walk unrolled to 8 CTE steps (rot(n) variant — keeps
        // coordinates nonnegative), mirroring Hilbert.withHKey level for
        // level in pure integer ops
        val n = 1L << Hilbert.Bits
        val steps = (0 until Hilbert.Bits).map { k =>
          val s = n >> (k + 1)
          s"""h${k + 1} AS (SELECT l_partkey, l_suppkey,
             |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${n - 1} - y ELSE y END ELSE x END AS x,
             |  CASE WHEN ry = 0 THEN CASE WHEN rx = 1 THEN ${n - 1} - x ELSE x END ELSE y END AS y,
             |  d + ${s * s} * xor(3 * rx, ry) AS d
             |  FROM (SELECT l_partkey, l_suppkey, x, y, d,
             |          CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
             |          CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
             |        FROM h$k) t)""".stripMargin
        }.mkString(",\n")
        s"""WITH stats AS (
           |  SELECT CAST(min(l_partkey) AS BIGINT) AS pmin, CAST(max(l_partkey) AS BIGINT) AS pmax,
           |         CAST(min(l_suppkey) AS BIGINT) AS smin, CAST(max(l_suppkey) AS BIGINT) AS smax
           |  FROM lineitem),
           |h0 AS (
           |  SELECT l_partkey, l_suppkey,
           |         ((CAST(l_partkey AS BIGINT) - pmin) * ${n - 1}) // (pmax - pmin) AS x,
           |         ((CAST(l_suppkey AS BIGINT) - smin) * ${n - 1}) // (smax - smin) AS y,
           |         CAST(0 AS BIGINT) AS d
           |  FROM lineitem, stats),
           |$steps
           |SELECT (d * 32) // ${1L << (2 * Hilbert.Bits)} AS bucket,
           |       count(*) AS n_rows,
           |       CAST(min(l_partkey) AS BIGINT) AS l_partkey_min,
           |       CAST(max(l_partkey) AS BIGINT) AS l_partkey_max,
           |       CAST(min(l_suppkey) AS BIGINT) AS l_suppkey_min,
           |       CAST(max(l_suppkey) AS BIGINT) AS l_suppkey_max
           |FROM h${Hilbert.Bits} GROUP BY bucket ORDER BY bucket""".stripMargin
      },
      "q_part_equidepth" ->
        """SELECT bucket, count(*) AS n_rows, min(ts_epoch) AS lo, max(ts_epoch) AS hi
          |FROM (
          |  SELECT CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ts_epoch,
          |         CAST(ntile(8) OVER (ORDER BY CAST(floor(epoch(l_shipdate)) AS BIGINT), l_orderkey, l_linenumber) AS BIGINT) AS bucket
          |  FROM lineitem
          |) t GROUP BY bucket ORDER BY bucket""".stripMargin,
      // the oracle aggregates the ORIGINAL parquet — equality across the
      // bucketed write/read hop + co-located join is the check
      "q_bucketed_join" ->
        """SELECT o_orderpriority,
          |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
          |  count(*) AS n_items,
          |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,10))) AS DECIMAL(28,4)) AS DOUBLE) AS revenue
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      // Kaplan-Meier: exact integer ladders; survival replays the SAME
      // left-to-right fold over duration-ordered factors (list ORDER BY
      // frame + sequential list_reduce), bit-identical
      "q_survival_km" ->
        """WITH o AS (SELECT o_custkey AS u, CAST(o_orderdate AS DATE) AS d
          |    FROM orders),
          |per AS (SELECT u, min(d) AS f, max(d) AS l FROM o GROUP BY u),
          |mx AS (SELECT max(d) AS mx FROM o),
          |subj AS (SELECT CAST(date_diff('day', f, l) AS BIGINT) AS t,
          |    CAST(l < mx - INTERVAL 365 DAY AS BIGINT) AS ev FROM per, mx),
          |byt AS (SELECT t, CAST(count(*) AS BIGINT) AS m,
          |    CAST(sum(ev) AS BIGINT) AS d FROM subj GROUP BY t),
          |lad AS (SELECT t, m, d,
          |    CAST(sum(m) OVER () AS BIGINT)
          |      - CAST(coalesce(sum(m) OVER (ORDER BY t
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |        AS BIGINT) AS n_risk
          |  FROM byt),
          |ev AS (SELECT t, n_risk, d, m - d AS c,
          |    CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS fac
          |  FROM lad WHERE d > 0)
          |SELECT t AS t_days, n_risk, d AS d_events, c AS c_censored,
          |  list_reduce(list(fac) OVER (ORDER BY t
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          |    (a, b) -> a * b) AS survival
          |FROM ev ORDER BY t_days""".stripMargin,
      // same scored CTE as q_classifier_score; algebraic sigmoid in
      // integer micro-units, exact per-bin evidence, division-only floats
      "q_calibration_bins" ->
        """WITH model AS (
          |  SELECT CAST(f AS BIGINT) AS feature_id,
          |         CAST('0x' || substr(md5('w:' || CAST(f AS VARCHAR)), 1, 15) AS BIGINT)
          |           % 2001 - 1000 AS weight
          |  FROM (SELECT unnest(range(0, 1024)) AS f)),
          |toks AS (
          |  SELECT doc_id, (lang = 'en') AS y,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |feat AS (
          |  SELECT doc_id,
          |         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS feature_id
          |  FROM toks, LATERAL (SELECT unnest(w) AS tok) t),
          |scored AS (
          |  SELECT f.doc_id, CAST(sum(m.weight) AS BIGINT) AS s
          |  FROM feat f JOIN model m USING (feature_id) GROUP BY f.doc_id),
          |p AS (
          |  SELECT t.y,
          |    500000 + CASE WHEN sc.s >= 0
          |      THEN (500000 * abs(sc.s)) // (20000 + abs(sc.s))
          |      ELSE -((500000 * abs(sc.s)) // (20000 + abs(sc.s))) END AS p
          |  FROM scored sc JOIN toks t USING (doc_id)),
          |b AS (
          |  SELECT least(p // 100000, 9) AS bin, CAST(count(*) AS BIGINT) AS n,
          |    CAST(count(*) FILTER (WHERE y) AS BIGINT) AS n_pos,
          |    CAST(sum(p) AS BIGINT) AS sum_p_micro
          |  FROM p GROUP BY 1)
          |SELECT bin, n, n_pos, sum_p_micro,
          |  CAST(sum_p_micro AS DOUBLE) / CAST(n * 1000000 AS DOUBLE)
          |    AS confidence,
          |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
          |  CAST(sum(abs(1000000 * n_pos - sum_p_micro)) OVER () AS DOUBLE)
          |    / CAST(sum(n) OVER () * 1000000 AS DOUBLE) AS ece
          |FROM b ORDER BY bin""".stripMargin,
      // per-row squared norm replays the sequential fold; the mean sums
      // scale-10 decimals (double-vs-midpoint ties impossible: midpoints
      // carry a 5^11 factor, doubles are dyadic)
      "q_vec_norm_audit" ->
        """WITH s AS (SELECT label AS grp,
          |    CAST(len(embedding) AS BIGINT) AS dim,
          |    list_reduce(list_transform(embedding,
          |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
          |      (a, b) -> a + b) AS sq,
          |    CAST(len(list_filter(embedding,
          |        x -> isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) > 0
          |      AS BIGINT) AS bad
          |  FROM embeddings)
          |SELECT grp, CAST(count(*) AS BIGINT) AS n,
          |  min(dim) AS dim_min, max(dim) AS dim_max,
          |  CAST(sum(bad) AS BIGINT) AS n_nonfinite,
          |  CAST(count(*) FILTER (WHERE bad = 0 AND sq < 1e-12) AS BIGINT)
          |    AS n_zero,
          |  min(CASE WHEN bad = 0 THEN sq END) AS sq_min,
          |  max(CASE WHEN bad = 0 THEN sq END) AS sq_max,
          |  CAST(sum(CASE WHEN bad = 0
          |      THEN CAST(sq AS DECIMAL(28,10)) END) AS DOUBLE)
          |    / CAST(count(*) - sum(bad) AS DOUBLE) AS sq_mean
          |FROM s GROUP BY grp ORDER BY grp""".stripMargin,
      // exact-integer Gini over the count-ascending rank ladder (total
      // order: count then token — tie-free); one IEEE division per stat
      "q_token_gini" ->
        """WITH t AS (SELECT lang AS grp, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok FROM documents),
          |c AS (SELECT grp, tok, count(*) AS c FROM t WHERE tok <> '' GROUP BY grp, tok),
          |r AS (SELECT grp, c, tok, row_number() OVER (PARTITION BY grp ORDER BY c, tok) AS r,
          |             count(*) OVER (PARTITION BY grp) AS v FROM c),
          |a AS (SELECT grp, CAST(max(v) AS BIGINT) AS vocab, CAST(sum(c) AS BIGINT) AS n_tokens,
          |        sum(CAST(r AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS src,
          |        CAST(sum(CASE WHEN r > v - v // 10 THEN c ELSE 0 END) AS BIGINT) AS top_c,
          |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
          |      FROM r GROUP BY grp)
          |SELECT grp, vocab, n_tokens,
          |  CAST(2 * src - (CAST(vocab AS DECIMAL(38,0)) + 1) * CAST(n_tokens AS DECIMAL(38,0)) AS DOUBLE)
          |    / CAST(CAST(vocab AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0)) AS DOUBLE) AS gini,
          |  CAST(top_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_decile_share,
          |  CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE) AS hapax_share
          |FROM a ORDER BY grp""".stripMargin,
      // unbiased Simpson / inverse-Simpson effective vocab: exact integer
      // evidence, one final division each — the log-free entropy stand-in
      "q_token_diversity" ->
        """WITH t AS (SELECT lang AS grp, unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok FROM documents),
          |c AS (SELECT grp, tok, count(*) AS c FROM t WHERE tok <> '' GROUP BY grp, tok),
          |a AS (SELECT grp, CAST(count(*) AS BIGINT) AS vocab, CAST(sum(c) AS BIGINT) AS n_tokens,
          |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
          |        sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS sq
          |      FROM c GROUP BY grp)
          |SELECT grp, vocab, n_tokens, hapax,
          |  CAST(sq - CAST(n_tokens AS DECIMAL(38,0)) AS DOUBLE)
          |    / CAST(CAST(n_tokens AS DECIMAL(38,0)) * (CAST(n_tokens AS DECIMAL(38,0)) - 1) AS DOUBLE) AS simpson_repeat,
          |  CAST(CAST(n_tokens AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0)) AS DOUBLE) / CAST(sq AS DOUBLE) AS effective_vocab,
          |  CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
          |  CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE) AS hapax_share
          |FROM a ORDER BY grp""".stripMargin,
      // exact decimal moments per group; each SSB/SSW term's numerator is
      // exact 128-bit integer ((s*N - S*n)^2 grouping and n*q - s^2 —
      // division-only floats, no cancelling q - s^2/n chain); cross-group
      // IEEE sums replay the SAME lang-ordered left fold (list ORDER BY +
      // list_reduce; init 0.0 + t1 == t1 exactly, so the fold trees agree)
      "q_anova_chars" ->
        """WITH b AS (SELECT CAST(lang AS VARCHAR) AS grp, count(*) AS n,
          |    sum(CAST(n_chars AS DECIMAL(38,0))) AS s,
          |    sum(CAST(n_chars AS DECIMAL(19,0)) * CAST(n_chars AS DECIMAL(19,0))) AS q
          |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL GROUP BY 1),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n_total,
          |    CAST(sum(s) AS HUGEINT) AS s_tot,
          |    list(struct_pack(grp := grp, n := n, s := s, q := q) ORDER BY grp) AS lad
          |  FROM b),
          |f AS (SELECT k, n_total,
          |    list_reduce(list_transform(lad, r ->
          |      CAST(CAST(r.s AS HUGEINT) * n_total - s_tot * r.n AS DOUBLE)
          |      * CAST(CAST(r.s AS HUGEINT) * n_total - s_tot * r.n AS DOUBLE)
          |      / (CAST(r.n AS DOUBLE) * CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))),
          |      (a, b) -> a + b) AS ssb,
          |    list_reduce(list_transform(lad, r ->
          |      CAST(CAST(r.q AS HUGEINT) * r.n - CAST(r.s AS HUGEINT) * CAST(r.s AS HUGEINT) AS DOUBLE)
          |      / CAST(r.n AS DOUBLE)),
          |      (a, b) -> a + b) AS ssw
          |  FROM t)
          |SELECT k, n_total, ssb, ssw,
          |  CASE WHEN ssw = 0 THEN NULL
          |    ELSE (ssb / CAST(k - 1 AS DOUBLE)) / (ssw / CAST(n_total - k AS DOUBLE)) END AS f_stat,
          |  CASE WHEN ssb + ssw = 0 THEN NULL
          |    ELSE ssb / (ssb + ssw) END AS eta_sq
          |FROM f""".stripMargin,
      // features land on the 2^-20 grid via floor(x * 2^20): the scale is
      // a POWER OF TWO (exact in double), floor is engine-portable, and
      // every moment after that is exact integer/decimal — no double ->
      // decimal cast anywhere (that cast is not correctly rounded in
      // every engine and flips ~1e-6 of values)
      "q_cov_matrix" ->
        """WITH p AS (
          |  SELECT ii.i - 1 AS i, ii.i - 1 + jj.j AS j,
          |    CAST(floor(CAST(embedding[ii.i] AS DOUBLE) * 1048576.0) AS BIGINT) AS qx,
          |    CAST(floor(CAST(embedding[CAST(ii.i + jj.j AS INT)] AS DOUBLE) * 1048576.0) AS BIGINT) AS qy
          |  FROM embeddings,
          |  LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) ii,
          |  LATERAL (SELECT unnest(range(0, len(embedding) + 1 - ii.i)) AS j) jj)
          |SELECT i, j, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(CAST(qx AS DECIMAL(19,0))) AS DOUBLE) AS sum_qx,
          |  CAST(sum(CAST(qy AS DECIMAL(19,0))) AS DOUBLE) AS sum_qy,
          |  CAST(sum(CAST(qx AS DECIMAL(19,0)) * CAST(qy AS DECIMAL(19,0))) AS DOUBLE) AS sum_qxy,
          |  (CAST(sum(CAST(qx AS DECIMAL(19,0)) * CAST(qy AS DECIMAL(19,0))) AS DOUBLE)
          |   - CAST(sum(CAST(qx AS DECIMAL(19,0))) AS DOUBLE) * CAST(sum(CAST(qy AS DECIMAL(19,0))) AS DOUBLE) / CAST(count(*) AS DOUBLE))
          |  / CAST(count(*) AS DOUBLE) / 1099511627776.0 AS cov_pop
          |FROM p GROUP BY i, j ORDER BY i, j""".stripMargin,
      // exact cross-multiplied cell terms: (N*n - r*c)^2 / (N*r*c) — no
      // subtraction of rounded doubles; margins are cell-frame windows
      "q_chi2_cells" ->
        """WITH e AS (SELECT CAST(event_type AS VARCHAR) AS r,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS VARCHAR) AS c
          |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
          |g AS (SELECT r, c, count(*) AS n FROM e GROUP BY r, c),
          |grid AS (SELECT rr.r, cc.c, coalesce(g.n, 0) AS n
          |  FROM (SELECT DISTINCT r FROM g) rr
          |  CROSS JOIN (SELECT DISTINCT c FROM g) cc
          |  LEFT JOIN g USING (r, c)),
          |m AS (SELECT r, c, n,
          |    CAST(sum(n) OVER (PARTITION BY r) AS BIGINT) AS rt,
          |    CAST(sum(n) OVER (PARTITION BY c) AS BIGINT) AS ct,
          |    CAST(sum(n) OVER () AS BIGINT) AS nt FROM grid)
          |SELECT r, c, CAST(n AS BIGINT) AS n,
          |  CAST(CAST(rt AS HUGEINT) * ct AS DOUBLE) / CAST(nt AS DOUBLE) AS expected,
          |  CAST(CAST(nt AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct AS DOUBLE)
          |  * CAST(CAST(nt AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct AS DOUBLE)
          |  / CAST(CAST(nt AS HUGEINT) * rt * ct AS DOUBLE) AS term
          |FROM m ORDER BY r, c""".stripMargin,
      // the statistic is the (r,c)-ordered contractual fold of the same
      // exact terms; V's sqrt is correctly-rounded IEEE — portable
      "q_chi2_summary" ->
        """WITH e AS (SELECT CAST(event_type AS VARCHAR) AS r,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS VARCHAR) AS c
          |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
          |g AS (SELECT r, c, count(*) AS n FROM e GROUP BY r, c),
          |grid AS (SELECT rr.r, cc.c, coalesce(g.n, 0) AS n
          |  FROM (SELECT DISTINCT r FROM g) rr
          |  CROSS JOIN (SELECT DISTINCT c FROM g) cc
          |  LEFT JOIN g USING (r, c)),
          |m AS (SELECT r, c, n,
          |    CAST(sum(n) OVER (PARTITION BY r) AS BIGINT) AS rt,
          |    CAST(sum(n) OVER (PARTITION BY c) AS BIGINT) AS ct,
          |    CAST(sum(n) OVER () AS BIGINT) AS nt FROM grid),
          |t AS (SELECT r, c, n, nt,
          |  CAST(CAST(nt AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct AS DOUBLE)
          |  * CAST(CAST(nt AS HUGEINT) * n - CAST(rt AS HUGEINT) * ct AS DOUBLE)
          |  / CAST(CAST(nt AS HUGEINT) * rt * ct AS DOUBLE) AS term FROM m),
          |s AS (SELECT CAST(max(nt) AS BIGINT) AS n_total,
          |    CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
          |    CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
          |    list_reduce(list(term ORDER BY r, c), (a, b) -> a + b) AS chi2 FROM t)
          |SELECT n_total, n_rows, n_cols, (n_rows - 1) * (n_cols - 1) AS dof, chi2,
          |  sqrt(chi2 / (CAST(n_total AS DOUBLE) * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE))) AS cramers_v
          |FROM s""".stripMargin,
      // unrolled fixed-round peeling over the shared co-purchase edge CTE
      "q_kcore" -> kcoreOracle(k = 3, rounds = 16),
      // per-column UNION ladder mirroring Profile.tableProfile's kinds:
      // doubles as DOUBLE min/max, ints/strings as canonical VARCHAR,
      // timestamps as floor-epoch-second strings (the house gotcha)
      "q_table_profile" -> {
        def block(c: String, kind: String): String = {
          val mm = kind match {
            case "num" =>
              s"CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num, " +
                "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
            case "str" =>
              "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, " +
                s"CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str"
            case _ =>
              "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, " +
                s"CAST(CAST(floor(epoch(min($c))) AS BIGINT) AS VARCHAR) AS min_str, " +
                s"CAST(CAST(floor(epoch(max($c))) AS BIGINT) AS VARCHAR) AS max_str"
          }
          s"SELECT '$c' AS col_name, count(*) AS n_rows, count(*) - count($c) AS n_null, " +
            s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, $mm FROM lineitem"
        }
        Seq(
          "l_discount" -> "num", "l_extendedprice" -> "num",
          "l_linenumber" -> "str", "l_linestatus" -> "str",
          "l_orderkey" -> "str", "l_partkey" -> "str", "l_quantity" -> "num",
          "l_returnflag" -> "str", "l_shipdate" -> "time",
          "l_suppkey" -> "str", "l_tax" -> "num")
          .map { case (c, k) => block(c, k) }
          .mkString("", "\nUNION ALL ", "\nORDER BY col_name")
      },
      // HLL estimates aren't engine-reproducible; the oracle checks the
      // exact profile AND pins the accuracy-verdict boolean TRUE per
      // column (the q_winsorize_approx rank-bound pattern)
      "q_table_profile_approx" -> {
        def block(c: String, kind: String): String = {
          val mm = kind match {
            case "num" =>
              s"CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num, " +
                "CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
            case "str" =>
              "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, " +
                s"CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str"
            case _ =>
              "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, " +
                s"CAST(CAST(floor(epoch(min($c))) AS BIGINT) AS VARCHAR) AS min_str, " +
                s"CAST(CAST(floor(epoch(max($c))) AS BIGINT) AS VARCHAR) AS max_str"
          }
          s"SELECT '$c' AS col_name, count(*) AS n_rows, count(*) - count($c) AS n_null, " +
            s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, $mm, " +
            "TRUE AS est_within_tol FROM lineitem"
        }
        Seq(
          "l_discount" -> "num", "l_extendedprice" -> "num",
          "l_linenumber" -> "str", "l_linestatus" -> "str",
          "l_orderkey" -> "str", "l_partkey" -> "str", "l_quantity" -> "num",
          "l_returnflag" -> "str", "l_shipdate" -> "time",
          "l_suppkey" -> "str", "l_tax" -> "num")
          .map { case (c, k) => block(c, k) }
          .mkString("", "\nUNION ALL ", "\nORDER BY col_name")
      },
      // kappa = (N*D - E)/(N^2 - E) with HUGEINT numerators; E from the
      // margin equi-join; one division per emitted stat
      "q_cohens_kappa" ->
        """WITH model AS (
          |  SELECT CAST(f AS BIGINT) AS feature_id,
          |         CAST('0x' || substr(md5('w:' || CAST(f AS VARCHAR)), 1, 15) AS BIGINT)
          |           % 2001 - 1000 AS weight
          |  FROM (SELECT unnest(range(0, 1024)) AS f)),
          |toks AS (
          |  SELECT doc_id, (lang = 'en') AS y,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |feat AS (
          |  SELECT doc_id,
          |         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS feature_id
          |  FROM toks, LATERAL (SELECT unnest(w) AS tok) t),
          |scored AS (
          |  SELECT f.doc_id, CAST(sum(m.weight) AS BIGINT) AS s
          |  FROM feat f JOIN model m USING (feature_id) GROUP BY f.doc_id),
          |r AS (SELECT CASE WHEN sc.s > 0 THEN 'pos' ELSE 'neg' END AS a,
          |             CASE WHEN t.y THEN 'pos' ELSE 'neg' END AS b
          |  FROM scored sc JOIN toks t USING (doc_id)),
          |cells AS (SELECT a, b, count(*) AS n FROM r GROUP BY a, b),
          |lad AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
          |  CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS d_agree,
          |  CAST(count(DISTINCT a) AS BIGINT) AS k_a,
          |  CAST(count(DISTINCT b) AS BIGINT) AS k_b FROM cells),
          |ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS rt FROM cells GROUP BY a),
          |rb AS (SELECT b, CAST(sum(n) AS BIGINT) AS ct FROM cells GROUP BY b),
          |e AS (SELECT coalesce(sum(CAST(rt AS HUGEINT) * ct), 0) AS e_cross
          |  FROM ra JOIN rb ON a = b)
          |SELECT n_total, k_a, k_b, d_agree,
          |  CAST(d_agree AS DOUBLE) / CAST(n_total AS DOUBLE) AS p_o,
          |  CAST(e_cross AS DOUBLE) / CAST(CAST(n_total AS HUGEINT) * n_total AS DOUBLE) AS p_e,
          |  CASE WHEN CAST(n_total AS HUGEINT) * n_total = e_cross THEN NULL
          |    ELSE CAST(CAST(n_total AS HUGEINT) * d_agree - e_cross AS DOUBLE)
          |       / CAST(CAST(n_total AS HUGEINT) * n_total - e_cross AS DOUBLE) END AS kappa
          |FROM lad, e""".stripMargin,
      // exact lower weighted percentile: integer cumulative ladder,
      // division-free 100*cw >= p*W selection
      "q_weighted_pctl" ->
        """WITH d AS (SELECT n_chars AS v,
          |    CAST(len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS w
          |  FROM documents WHERE n_chars IS NOT NULL),
          |byv AS (SELECT v, CAST(sum(w) AS BIGINT) AS w FROM d WHERE w > 0 GROUP BY v),
          |lad AS (SELECT v, w,
          |    CAST(sum(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
          |    CAST(sum(w) OVER () AS BIGINT) AS tw FROM byv),
          |p AS (SELECT unnest([25, 50, 90, 99]) AS p)
          |SELECT CAST(p.p AS BIGINT) AS p, min(l.v) AS value,
          |  CAST(max(l.tw) AS BIGINT) AS total_weight
          |FROM lad l, p WHERE CAST(l.cw AS HUGEINT) * 100 >= CAST(p.p AS HUGEINT) * l.tw
          |GROUP BY p.p ORDER BY p""".stripMargin,
      // same scored CTE as the calibration family; tp/fp are descending
      // prefix integers, each metric one division
      "q_pr_curve" ->
        """WITH model AS (
          |  SELECT CAST(f AS BIGINT) AS feature_id,
          |         CAST('0x' || substr(md5('w:' || CAST(f AS VARCHAR)), 1, 15) AS BIGINT)
          |           % 2001 - 1000 AS weight
          |  FROM (SELECT unnest(range(0, 1024)) AS f)),
          |toks AS (
          |  SELECT doc_id, (lang = 'en') AS y,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |feat AS (
          |  SELECT doc_id,
          |         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS feature_id
          |  FROM toks, LATERAL (SELECT unnest(w) AS tok) t),
          |scored AS (
          |  SELECT f.doc_id, CAST(sum(m.weight) AS BIGINT) AS s
          |  FROM feat f JOIN model m USING (feature_id) GROUP BY f.doc_id),
          |p AS (
          |  SELECT t.y,
          |    500000 + CASE WHEN sc.s >= 0
          |      THEN (500000 * abs(sc.s)) // (20000 + abs(sc.s))
          |      ELSE -((500000 * abs(sc.s)) // (20000 + abs(sc.s))) END AS p
          |  FROM scored sc JOIN toks t USING (doc_id)),
          |b AS (
          |  SELECT least(p // 15625, 63) AS bin, CAST(count(*) AS BIGINT) AS n,
          |    CAST(count(*) FILTER (WHERE y) AS BIGINT) AS n_pos
          |  FROM p GROUP BY 1),
          |pre AS (SELECT bin, n, n_pos,
          |    CAST(sum(n) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_pred_pos,
          |    CAST(sum(n_pos) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
          |    CAST(sum(n_pos) OVER () AS BIGINT) AS total_pos
          |  FROM b)
          |SELECT bin, bin * 15625 AS threshold_micro, n, n_pos, n_pred_pos, tp,
          |  CAST(tp AS DOUBLE) / CAST(n_pred_pos AS DOUBLE) AS precision,
          |  CASE WHEN total_pos = 0 THEN NULL
          |    ELSE CAST(tp AS DOUBLE) / CAST(total_pos AS DOUBLE) END AS recall,
          |  CAST(2 * tp AS DOUBLE)
          |    / CAST(2 * tp + (n_pred_pos - tp) + (total_pos - tp) AS DOUBLE) AS f1
          |FROM pre ORDER BY bin""".stripMargin,
      // Horvitz-Thompson ESS: N^2 / sum(pop_g^2 / smp_g) with HUGEINT
      // numerators and the grp-ordered contractual fold; the sample is the
      // q_sample_stratified predicate verbatim
      "q_sample_ess" ->
        """WITH pop AS (SELECT CAST(lang AS VARCHAR) AS grp, count(*) AS pop
          |  FROM documents GROUP BY 1),
          |smp AS (SELECT CAST(lang AS VARCHAR) AS grp, count(*) AS smp
          |  FROM documents
          |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|graft_sample_v1'), 1, 8)) AS BIGINT) % 100
          |        < CASE WHEN lang = 'en' THEN 37 ELSE 83 END
          |  GROUP BY 1),
          |j AS (SELECT p.grp, p.pop, coalesce(s.smp, 0) AS smp
          |  FROM pop p LEFT JOIN smp s USING (grp)),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
          |    CAST(sum(pop) AS BIGINT) AS n_pop,
          |    CAST(sum(smp) AS BIGINT) AS n_sample,
          |    CAST(sum(CASE WHEN smp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_uncovered,
          |    list(struct_pack(grp := grp, pop := pop, smp := smp) ORDER BY grp) AS lad
          |  FROM j),
          |d AS (SELECT *, list_reduce(list_transform(lad, r ->
          |    CASE WHEN r.smp > 0
          |      THEN CAST(CAST(r.pop AS HUGEINT) * CAST(r.pop AS HUGEINT) AS DOUBLE) / CAST(r.smp AS DOUBLE)
          |      ELSE 0.0 END), (a, b) -> a + b) AS denom FROM t)
          |SELECT k, n_pop, n_sample, n_uncovered,
          |  CAST(n_sample AS DOUBLE) / CAST(n_pop AS DOUBLE) AS coverage,
          |  CASE WHEN n_uncovered > 0 THEN NULL
          |    ELSE CAST(n_pop AS DOUBLE) * CAST(n_pop AS DOUBLE) / denom END AS ess,
          |  CASE WHEN n_uncovered > 0 THEN NULL
          |    ELSE CAST(n_sample AS DOUBLE) * denom
          |      / (CAST(n_pop AS DOUBLE) * CAST(n_pop AS DOUBLE)) END AS deff
          |FROM d""".stripMargin,
      // verdict-boolean pattern (the eigenbasis has no SQL form): the
      // oracle derives the raw sequential-fold ||x||^2 and asserts the
      // Parseval booleans the Jacobi basis must earn
      "q_pca_project" ->
        """SELECT vec_id, label,
          |  list_reduce(list_transform(embedding,
          |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
          |    (a, b) -> a + b) AS sq_raw,
          |  CAST(len(embedding) AS BIGINT) AS n_comps,
          |  TRUE AS ok_parseval
          |FROM embeddings ORDER BY vec_id""".stripMargin,
      // same scored CTE as q_calibration_bins at 64 bins; the PAV fit in
      // closed minimax form — exact prefix integers, one division per
      // pooled range, order-free min/max
      "q_isotonic_fit" ->
        """WITH model AS (
          |  SELECT CAST(f AS BIGINT) AS feature_id,
          |         CAST('0x' || substr(md5('w:' || CAST(f AS VARCHAR)), 1, 15) AS BIGINT)
          |           % 2001 - 1000 AS weight
          |  FROM (SELECT unnest(range(0, 1024)) AS f)),
          |toks AS (
          |  SELECT doc_id, (lang = 'en') AS y,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |feat AS (
          |  SELECT doc_id,
          |         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS feature_id
          |  FROM toks, LATERAL (SELECT unnest(w) AS tok) t),
          |scored AS (
          |  SELECT f.doc_id, CAST(sum(m.weight) AS BIGINT) AS s
          |  FROM feat f JOIN model m USING (feature_id) GROUP BY f.doc_id),
          |p AS (
          |  SELECT t.y,
          |    500000 + CASE WHEN sc.s >= 0
          |      THEN (500000 * abs(sc.s)) // (20000 + abs(sc.s))
          |      ELSE -((500000 * abs(sc.s)) // (20000 + abs(sc.s))) END AS p
          |  FROM scored sc JOIN toks t USING (doc_id)),
          |b AS (
          |  SELECT least(p // 15625, 63) AS bin, CAST(count(*) AS BIGINT) AS n,
          |    CAST(count(*) FILTER (WHERE y) AS BIGINT) AS n_pos
          |  FROM p GROUP BY 1),
          |pre AS (SELECT bin, n, n_pos,
          |    CAST(sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS w1,
          |    CAST(sum(n_pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p1
          |  FROM b),
          |rng AS (SELECT i.bin AS bi, j.bin AS bj,
          |    CAST(j.p1 - (i.p1 - i.n_pos) AS DOUBLE) / CAST(j.w1 - (i.w1 - i.n) AS DOUBLE) AS avg
          |  FROM pre i JOIN pre j ON j.bin >= i.bin),
          |mk AS (SELECT r.bi, k.bin AS k, min(r.avg) AS m
          |  FROM rng r JOIN b k ON r.bi <= k.bin AND k.bin <= r.bj GROUP BY r.bi, k.bin),
          |f AS (SELECT k, max(m) AS fitted FROM mk GROUP BY k)
          |SELECT b.bin, b.n, b.n_pos,
          |  CAST(b.n_pos AS DOUBLE) / CAST(b.n AS DOUBLE) AS rate, f.fitted
          |FROM b JOIN f ON b.bin = f.k ORDER BY bin""".stripMargin,

      // ---- round-8 lanes ----
      // exact decimal moments per arm; exact cross-multiplied mean diff
      // and variance numerators; fixed double tree for t / Welch df
      "q_welch_ttest" ->
        """WITH a AS (SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS arm,
          |    n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
          |g AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
          |    CAST(sum(CAST(v AS DECIMAL(25,0))) AS DECIMAL(38,0)) AS s,
          |    CAST(sum(CAST(v AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS q
          |  FROM a GROUP BY arm),
          |p AS (SELECT list(struct_pack(arm := arm, n := n, s := s, q := q)
          |    ORDER BY arm) AS la FROM g),
          |f AS (SELECT la[1].arm AS arm_a, la[2].arm AS arm_b,
          |    la[1].n AS n_a, la[2].n AS n_b,
          |    CAST(la[1].s AS DOUBLE) / CAST(la[1].n AS DOUBLE) AS mean_a,
          |    CAST(la[2].s AS DOUBLE) / CAST(la[2].n AS DOUBLE) AS mean_b,
          |    CAST(CAST(la[1].s AS DECIMAL(19,0)) * CAST(la[2].n AS DECIMAL(19,0))
          |        - CAST(la[2].s AS DECIMAL(19,0)) * CAST(la[1].n AS DECIMAL(19,0)) AS DOUBLE)
          |      / CAST(la[1].n * la[2].n AS DOUBLE) AS mean_diff,
          |    CASE WHEN la[1].n >= 2 THEN
          |      CAST(CAST(la[1].q AS DECIMAL(25,0)) * CAST(la[1].n AS DECIMAL(13,0))
          |          - CAST(la[1].s AS DECIMAL(19,0)) * CAST(la[1].s AS DECIMAL(19,0)) AS DOUBLE)
          |        / CAST(la[1].n * (la[1].n - 1) AS DOUBLE) END AS var_a,
          |    CASE WHEN la[2].n >= 2 THEN
          |      CAST(CAST(la[2].q AS DECIMAL(25,0)) * CAST(la[2].n AS DECIMAL(13,0))
          |          - CAST(la[2].s AS DECIMAL(19,0)) * CAST(la[2].s AS DECIMAL(19,0)) AS DOUBLE)
          |        / CAST(la[2].n * (la[2].n - 1) AS DOUBLE) END AS var_b
          |  FROM p WHERE len(la) = 2),
          |w AS (SELECT *, (var_a / CAST(n_a AS DOUBLE)) + (var_b / CAST(n_b AS DOUBLE)) AS se2
          |  FROM f)
          |SELECT arm_a, arm_b, n_a, n_b, mean_a, mean_b, mean_diff, var_a, var_b,
          |  CASE WHEN se2 > 0.0 THEN mean_diff / sqrt(se2) END AS t_stat,
          |  CASE WHEN se2 > 0.0 AND n_a >= 2 AND n_b >= 2 THEN
          |    (se2 * se2) /
          |      ((var_a / CAST(n_a AS DOUBLE)) * (var_a / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE)
          |      + (var_b / CAST(n_b AS DOUBLE)) * (var_b / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE)) END AS df_welch,
          |  CASE WHEN se2 > 0.0 THEN abs(mean_diff / sqrt(se2)) > 1.96 END AS significant
          |FROM w""".stripMargin,
      // EMD over the ordered sensitive domain: exact integer cumulative
      // numerators over the common denominator n_c*N, ONE division per class
      "q_t_closeness" ->
        """WITH j AS (SELECT CAST(c_nationkey AS VARCHAR) AS qi1,
          |    CAST(c_mktsegment AS VARCHAR) AS qi2,
          |    CAST(o_orderpriority AS VARCHAR) AS sv
          |  FROM customer JOIN orders ON c_custkey = o_custkey
          |  WHERE o_orderpriority IS NOT NULL),
          |cells AS (SELECT qi1, qi2, sv, count(*) AS cnt FROM j GROUP BY 1, 2, 3),
          |cls AS (SELECT qi1, qi2, CAST(sum(cnt) AS BIGINT) AS n_rows
          |  FROM cells GROUP BY 1, 2),
          |dom AS (SELECT sv, CAST(sum(cnt) AS BIGINT) AS g FROM cells GROUP BY 1),
          |tot AS (SELECT CAST(sum(g) AS BIGINT) AS n_total,
          |    CAST(count(*) AS BIGINT) AS m FROM dom),
          |grid AS (SELECT c.qi1, c.qi2, c.n_rows, d.sv, d.g, t.n_total, t.m,
          |    coalesce(ce.cnt, 0) AS cnt
          |  FROM cls c CROSS JOIN dom d CROSS JOIN tot t
          |  LEFT JOIN cells ce ON ce.qi1 = c.qi1 AND ce.qi2 = c.qi2 AND ce.sv = d.sv),
          |cm AS (SELECT qi1, qi2, n_rows, m, n_total,
          |    sum(CAST(cnt AS DECIMAL(19,0)) * CAST(n_total AS DECIMAL(19,0))
          |      - CAST(g AS DECIMAL(19,0)) * CAST(n_rows AS DECIMAL(19,0)))
          |      OVER (PARTITION BY qi1, qi2 ORDER BY sv ROWS UNBOUNDED PRECEDING) AS c
          |  FROM grid),
          |agg AS (SELECT qi1, qi2, n_rows, m, n_total,
          |    CAST(sum(abs(c)) AS DECIMAL(38,0)) AS emd_num
          |  FROM cm GROUP BY 1, 2, 3, 4, 5)
          |SELECT qi1, qi2, n_rows, m,
          |  CASE WHEN m > 1 THEN CAST(emd_num AS DOUBLE)
          |    / CAST(n_rows * n_total * (m - 1) AS DOUBLE) ELSE 0.0 END AS t_closeness,
          |  (CASE WHEN m > 1 THEN CAST(emd_num AS DOUBLE)
          |    / CAST(n_rows * n_total * (m - 1) AS DOUBLE) ELSE 0.0 END) <= 0.2 AS ok_t
          |FROM agg ORDER BY qi1, qi2""".stripMargin,
      // out-of-fold target mean with pseudo-count smoothing, collapsed to
      // ONE division of exact integers
      "q_target_encode" ->
        """WITH d AS (SELECT source AS category, doc_id % 5 AS fold,
          |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          |  FROM documents WHERE source IS NOT NULL AND doc_id IS NOT NULL),
          |base AS (SELECT category, fold, CAST(count(*) AS BIGINT) AS n_cf,
          |    CAST(sum(y) AS BIGINT) AS s_cf FROM d GROUP BY 1, 2),
          |g AS (SELECT *,
          |    sum(n_cf) OVER (PARTITION BY category) AS n_c,
          |    sum(s_cf) OVER (PARTITION BY category) AS s_c,
          |    sum(n_cf) OVER (PARTITION BY fold) AS n_f,
          |    sum(s_cf) OVER (PARTITION BY fold) AS s_f,
          |    sum(n_cf) OVER () AS n_tot,
          |    sum(s_cf) OVER () AS s_tot
          |  FROM base)
          |SELECT category, fold, CAST(n_c - n_cf AS BIGINT) AS n_oof,
          |  CAST((s_c - s_cf) * (n_tot - n_f) + 20 * (s_tot - s_f) AS DOUBLE)
          |    / CAST((n_c - n_cf + 20) * (n_tot - n_f) AS DOUBLE) AS encoded
          |FROM g ORDER BY category, fold""".stripMargin,
      // per-type self-correlation at lags 1..7 — the q_xcorr_daily moment
      // chain, per event type
      "q_acf_daily" ->
        """WITH daily AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |lg AS (SELECT CAST(unnest(range(1, 8)) AS INT) AS lag),
          |j AS (SELECT a.event_type, lag, a.n AS a_n, b.n AS b_n
          |  FROM daily a, lg
          |  JOIN daily b ON b.event_type = a.event_type
          |    AND b.day = a.day + lag),
          |m AS (SELECT event_type, lag, count(*) AS n_pairs,
          |    CAST(sum(CAST(a_n AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sa,
          |    CAST(sum(CAST(b_n AS DECIMAL(20,0))) AS DECIMAL(20,0)) AS sb,
          |    CAST(sum(CAST(a_n * b_n AS DECIMAL(30,0))) AS DECIMAL(30,0)) AS sab,
          |    CAST(sum(CAST(a_n * a_n AS DECIMAL(30,0))) AS DECIMAL(30,0)) AS saa,
          |    CAST(sum(CAST(b_n * b_n AS DECIMAL(30,0))) AS DECIMAL(30,0)) AS sbb
          |  FROM j GROUP BY event_type, lag)
          |SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
          |  CASE WHEN n_pairs * saa - sa * sa = 0
          |         OR n_pairs * sbb - sb * sb = 0 THEN NULL
          |       ELSE CAST(n_pairs * sab - sa * sb AS DOUBLE)
          |         / (sqrt(CAST(n_pairs * saa - sa * sa AS DOUBLE))
          |           * sqrt(CAST(n_pairs * sbb - sb * sb AS DOUBLE))) END AS r
          |FROM m ORDER BY event_type, lag""".stripMargin,
      // textbook Holt init (l1=x1, b1=x2-x1) + the day-ordered recurrence
      // with the SAME literal alpha/beta and expression tree, unrolled by a
      // RECURSIVE CTE (one step per day). Deliberately NOT list_reduce:
      // DuckDB's list_reduce evaluates struct_pack fields sequentially IN
      // PLACE — the t field sees the already-updated l — a semantics quirk
      // this session measured diverging from the all-at-once HOF fold.
      "q_holt_forecast" ->
        """WITH RECURSIVE daily AS (
          |  SELECT event_type, CAST(ts AS DATE) AS day,
          |    CAST(count(*) AS DOUBLE) AS x
          |  FROM events GROUP BY 1, 2),
          |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
          |    list(x ORDER BY day) AS xs FROM daily GROUP BY 1),
          |r AS (
          |  SELECT event_type, n_days, xs, CAST(1 AS BIGINT) AS i,
          |    xs[1] AS l,
          |    CASE WHEN n_days >= 2 THEN xs[2] - xs[1] ELSE 0.0 END AS t
          |  FROM s
          |  UNION ALL
          |  SELECT event_type, n_days, xs, i + 1,
          |    0.2 * xs[CAST(i + 1 AS INT)] + 0.8 * (l + t),
          |    0.1 * ((0.2 * xs[CAST(i + 1 AS INT)] + 0.8 * (l + t)) - l)
          |      + 0.9 * t
          |  FROM r WHERE i < n_days)
          |SELECT event_type, n_days, l AS level, t AS trend,
          |  l + 1.0 * t AS fc_1,
          |  l + 3.0 * t AS fc_3,
          |  l + 7.0 * t AS fc_7
          |FROM r WHERE i = n_days ORDER BY event_type""".stripMargin,
      // unrolled 12-step value iteration per removal variant; ordered
      // folds mirror the driver solve term-for-term (see markovOracle)
      "q_markov_attribution" -> markovOracle(),
      // unrolled alternating margin fits, ordered folds (see rakeOracle)
      "q_mixture_rake" -> rakeOracle(),
      // per-user RFM metrics + value-grain ladders; score = exact integer
      // ceil(5*cum/N); recency inverted so most-recent lands at 5
      "q_rfm_segments" ->
        """WITH md AS (SELECT max(CAST(ts AS DATE)) AS max_day FROM events),
          |u AS (SELECT user_id,
          |    CAST(date_diff('day', max(CAST(ts AS DATE)), (SELECT max_day FROM md)) AS BIGINT) AS r,
          |    CAST(count(*) AS BIGINT) AS f,
          |    CAST(coalesce(sum(CAST(floor(CAST(value AS DOUBLE) * 1048576.0) AS BIGINT)), 0) AS BIGINT) AS m_q
          |  FROM events GROUP BY user_id),
          |uu AS (SELECT *, m_q // 65536 AS m_s FROM u),
          |n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM uu),
          |lr AS (SELECT r AS v, sum(count(*)) OVER (ORDER BY r
          |         ROWS UNBOUNDED PRECEDING) AS cum FROM uu GROUP BY r),
          |lf AS (SELECT f AS v, sum(count(*)) OVER (ORDER BY f
          |         ROWS UNBOUNDED PRECEDING) AS cum FROM uu GROUP BY f),
          |lm AS (SELECT m_s AS v, sum(count(*)) OVER (ORDER BY m_s
          |         ROWS UNBOUNDED PRECEDING) AS cum FROM uu GROUP BY m_s)
          |SELECT uu.user_id, uu.r, uu.f,
          |  CAST(uu.m_q AS DOUBLE) / 1048576.0 AS m_revenue,
          |  CAST(6 - (lr.cum * 5 + n.n_users - 1) // n.n_users AS BIGINT) AS score_r,
          |  CAST((lf.cum * 5 + n.n_users - 1) // n.n_users AS BIGINT) AS score_f,
          |  CAST((lm.cum * 5 + n.n_users - 1) // n.n_users AS BIGINT) AS score_m,
          |  CAST(6 - (lr.cum * 5 + n.n_users - 1) // n.n_users AS VARCHAR)
          |    || CAST((lf.cum * 5 + n.n_users - 1) // n.n_users AS VARCHAR)
          |    || CAST((lm.cum * 5 + n.n_users - 1) // n.n_users AS VARCHAR) AS segment
          |FROM uu JOIN lr ON lr.v = uu.r JOIN lf ON lf.v = uu.f
          |JOIN lm ON lm.v = uu.m_s CROSS JOIN n
          |ORDER BY uu.user_id""".stripMargin,
      // the explode-coverage rolling distincts at 1/7/28 days, exact
      // integer counts, one division per ratio; full-history days only
      "q_stickiness" ->
        """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
          |b AS (SELECT max(day) AS max_day, min(day) AS min_day FROM ud),
          |dau AS (SELECT day AS win_end, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
          |        FROM ud GROUP BY 1),
          |wau AS (SELECT day + CAST(k AS INT) AS win_end,
          |          CAST(count(DISTINCT user_id) AS BIGINT) AS wau
          |        FROM ud, LATERAL (SELECT unnest(range(0, 7)) AS k) kk GROUP BY 1),
          |mau AS (SELECT day + CAST(k AS INT) AS win_end,
          |          CAST(count(DISTINCT user_id) AS BIGINT) AS mau
          |        FROM ud, LATERAL (SELECT unnest(range(0, 28)) AS k) kk GROUP BY 1)
          |SELECT dau.win_end AS day, dau, wau, mau,
          |  CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS dau_mau,
          |  CAST(wau AS DOUBLE) / CAST(mau AS DOUBLE) AS wau_mau
          |FROM dau JOIN wau ON wau.win_end = dau.win_end
          |JOIN mau ON mau.win_end = dau.win_end
          |CROSS JOIN b
          |WHERE dau.win_end <= b.max_day AND dau.win_end - 27 >= b.min_day
          |ORDER BY day""".stripMargin,
      // the retention cohort CTEs + 2^-20-grid revenue and an exact
      // integer running sum; one double chain per reported number
      "q_cohort_ltv" ->
        """WITH uw AS (SELECT user_id,
          |    CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS week,
          |    value FROM events),
          |c AS (SELECT user_id, min(week) AS cohort_week
          |      FROM (SELECT DISTINCT user_id, week FROM uw) GROUP BY 1),
          |s AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_n
          |      FROM c GROUP BY 1),
          |a AS (SELECT c.cohort_week,
          |        (uw.week - c.cohort_week) // 604800 AS offset_weeks,
          |        CAST(count(DISTINCT uw.user_id) AS BIGINT) AS n_active,
          |        sum(CAST(floor(CAST(uw.value AS DOUBLE) * 1048576.0) AS BIGINT)) AS rev_q
          |      FROM uw JOIN c USING (user_id) GROUP BY 1, 2),
          |w AS (SELECT *, sum(rev_q) OVER (PARTITION BY cohort_week
          |        ORDER BY offset_weeks ROWS UNBOUNDED PRECEDING) AS cum_q
          |      FROM a)
          |SELECT w.cohort_week, offset_weeks, n_active, cohort_n,
          |  CAST(rev_q AS DOUBLE) / 1048576.0 AS week_revenue,
          |  CAST(cum_q AS DOUBLE) / 1048576.0 / CAST(cohort_n AS DOUBLE) AS ltv_per_user
          |FROM w JOIN s USING (cohort_week)
          |ORDER BY cohort_week, offset_weeks""".stripMargin,
      // the q_ab_test arm CTE + the same literal-z power arithmetic
      "q_ab_power" ->
        """WITH u AS (SELECT user_id,
          |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 15
          |         THEN 1 ELSE 0 END AS converted,
          |    CAST(user_id % 2 AS INT) AS arm
          |  FROM events GROUP BY user_id),
          |arms AS (SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS k
          |         FROM u GROUP BY arm),
          |ab AS (SELECT
          |    (SELECT n FROM arms WHERE arm = 0) AS n_a,
          |    (SELECT k FROM arms WHERE arm = 0) AS k_a,
          |    (SELECT n FROM arms WHERE arm = 1) AS n_b,
          |    (SELECT k FROM arms WHERE arm = 1) AS k_b),
          |base AS (SELECT n_a, n_b,
          |    CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
          |    CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
          |    CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS p_pool,
          |    CAST(k_a * n_b - k_b * n_a AS DOUBLE)
          |      / CAST(n_a * n_b AS DOUBLE) AS diff
          |  FROM ab),
          |m AS (SELECT *,
          |    (1.96 + 0.8416212335729143) *
          |      sqrt(p_pool * (1.0 - p_pool) *
          |        (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) AS mde
          |  FROM base)
          |SELECT n_a, n_b, p_a, p_b, diff, mde,
          |  CASE WHEN diff <> 0.0 THEN
          |    CAST(ceil((1.96 + 0.8416212335729143) * (1.96 + 0.8416212335729143)
          |      * (p_a * (1.0 - p_a) + p_b * (1.0 - p_b))
          |      / (diff * diff)) AS BIGINT) END AS n_req_per_arm,
          |  abs(diff) >= mde AS powered
          |FROM m""".stripMargin,
      // the sessionize recurrence (with event_type carried), role by turn
      // parity, ordered string_agg, md5 of the identical byte stream
      "q_chat_assemble" ->
        """WITH e AS (
          |  SELECT user_id, event_id, event_type,
          |         CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
          |         lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
          |           (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS prev_sec
          |  FROM events),
          |f AS (
          |  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 1800
          |                 THEN 1 ELSE 0 END AS new_session FROM e),
          |g AS (
          |  SELECT *, sum(new_session) OVER
          |    (PARTITION BY user_id ORDER BY ts_sec, event_id
          |     ROWS UNBOUNDED PRECEDING) AS session_seq FROM f),
          |lines AS (
          |  SELECT user_id, session_seq, ts_sec, event_id,
          |    (CASE WHEN (row_number() OVER
          |        (PARTITION BY user_id, session_seq ORDER BY ts_sec, event_id)
          |        - 1) % 2 = 0 THEN 'user' ELSE 'assistant' END)
          |      || ': ' || coalesce(event_type, '') AS line
          |  FROM g),
          |t AS (
          |  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
          |    CAST(count(*) AS BIGINT) AS n_turns,
          |    string_agg(line, chr(10) ORDER BY ts_sec, event_id) AS transcript
          |  FROM lines GROUP BY 1, 2)
          |SELECT user_id, session_seq, n_turns,
          |  CAST(len(string_split(trim(regexp_replace(lower(transcript),
          |    '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens,
          |  md5(transcript) AS transcript_md5
          |FROM t ORDER BY user_id, session_seq""".stripMargin,
      // the classifier-score CTE + within-group self-join, margin gate,
      // (gap desc, ids) rank — integer scores make every compare exact
      "q_dpo_pairs" ->
        """WITH model AS (
          |  SELECT CAST(f AS BIGINT) AS feature_id,
          |         CAST('0x' || substr(md5('w:' || CAST(f AS VARCHAR)), 1, 15) AS BIGINT)
          |           % 2001 - 1000 AS weight
          |  FROM (SELECT unnest(range(0, 1024)) AS f)),
          |toks AS (
          |  SELECT doc_id,
          |         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |feat AS (
          |  SELECT doc_id,
          |         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024 AS feature_id
          |  FROM toks, LATERAL (SELECT unnest(w) AS tok) t),
          |scored AS (
          |  SELECT f.doc_id % 200 AS grp, f.doc_id,
          |         CAST(sum(m.weight) AS BIGINT) AS score
          |  FROM feat f JOIN model m USING (feature_id) GROUP BY f.doc_id),
          |pairs AS (
          |  SELECT a.grp, a.doc_id AS chosen_id, b.doc_id AS rejected_id,
          |         a.score AS s_chosen, b.score AS s_rejected,
          |         a.score - b.score AS gap
          |  FROM scored a JOIN scored b
          |    ON a.grp = b.grp AND a.score - b.score >= 40),
          |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY grp
          |        ORDER BY gap DESC, chosen_id, rejected_id) AS BIGINT) AS rk
          |      FROM pairs)
          |SELECT grp, rk, chosen_id, rejected_id, s_chosen, s_rejected, gap
          |FROM r WHERE rk <= 2 ORDER BY grp, rk""".stripMargin,
      // the q_cf_recommend CF chain over the TRAIN split (held-out item =
      // per-basket max id), then the leave-one-out verdict: hit@3 + MRR
      // with the exact rational 6/rank numerator, one division per stat
      "q_rec_eval" ->
        """WITH b AS (SELECT DISTINCT o_custkey AS basket, l_suppkey AS item
          |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          |elig AS (SELECT basket, max(item) AS held FROM b
          |         GROUP BY basket HAVING count(*) >= 2),
          |train AS (SELECT b.basket, b.item FROM b LEFT JOIN elig USING (basket)
          |          WHERE elig.held IS NULL OR b.item <> elig.held),
          |cnt AS (SELECT item, count(*) AS cnt FROM train GROUP BY item),
          |co AS (SELECT a.item AS item_a, b2.item AS item_b, count(*) AS co_cnt
          |       FROM train a JOIN train b2 ON a.basket = b2.basket AND a.item < b2.item
          |       GROUP BY 1, 2 HAVING count(*) >= 2),
          |sym AS (SELECT item_a, item_b, co_cnt FROM co
          |        UNION ALL SELECT item_b, item_a, co_cnt FROM co),
          |sc AS (SELECT item_a, item_b,
          |         CAST(co_cnt AS DOUBLE) / sqrt(CAST(ca.cnt * cb.cnt AS DOUBLE)) AS cosine
          |       FROM sym JOIN cnt ca ON ca.item = sym.item_a
          |       JOIN cnt cb ON cb.item = sym.item_b),
          |r AS (SELECT item_a AS item, item_b AS rec,
          |        CAST(row_number() OVER (PARTITION BY item_a ORDER BY cosine DESC, item_b) AS BIGINT) AS rk
          |      FROM sc),
          |hits AS (SELECT e.basket, min(r.rk) AS rank
          |         FROM elig e JOIN train t ON t.basket = e.basket
          |         JOIN r ON r.item = t.item AND r.rec = e.held
          |         WHERE r.rk <= 3 GROUP BY e.basket),
          |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM elig),
          |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_hit,
          |         CAST(coalesce(sum(6 // rank), 0) AS BIGINT) AS mrr_num
          |        FROM hits)
          |SELECT n_users, n_hit,
          |  CAST(n_hit AS DOUBLE) / CAST(n_users AS DOUBLE) AS hit_rate,
          |  CAST(mrr_num AS DOUBLE) / CAST(6 * n_users AS DOUBLE) AS mrr
          |FROM tot, agg""".stripMargin,
    ) match {
      // merged sketch state ≡ from-scratch sketch — same oracle by design
      case m => m + ("q_quantile_sketch_merge" -> m("q_quantile_sketch"))
    }
  }
}
