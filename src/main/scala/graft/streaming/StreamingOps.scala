package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the event-stream operators. The reference is
  * batch-only (SURVEY.md §2.5: no streaming anywhere; its pom's pubsub dep is
  * dead code), so these are the engine's forward path: the SAME logical
  * transformations as graft.operators.JsonOps, lifted onto an unbounded
  * source. `StreamingOpsSpec` proves batch/stream agreement by running the
  * windowed aggregation both ways over identical rows.
  *
  * Scale notes: watermark + tumbling window keeps state bounded (one window's
  * partial aggregate per (window, type) key, dropped `delay` after the
  * watermark passes); sessionization state is one small case class per active
  * user, timed out by the watermark clock.
  */
object StreamingOps {

  /** Tumbling 1-hour windowed counts — streaming twin of
    * `JsonOps.windowedCounts`. Append mode emits each window once the
    * watermark passes its end. */
  def windowedCounts(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 2-hour windows with 1-hour slide — streaming twin of
    * `JsonOps.slidingCounts`. Each event contributes to two windows
    * (generator, not self-join); state = two open windows per type. */
  def slidingCounts(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming exact dedup on event_id with watermark-bounded state — the
    * streaming twin of `Dedup.keepFirst` for at-least-once sources. State for
    * an id is dropped once the watermark passes it (bounded memory). */
  def dedupEvents(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates("event_id")

  /** Streaming CONTENT dedup: normalized-text md5 fingerprint as the dedup
    * key (the streaming twin of `Dedup.exactText`) — re-ingested or mirrored
    * documents are dropped even when their ids differ. State = one fingerprint
    * per distinct content within the watermark horizon. */
  def dedupByFingerprint(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp",
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates("fp")

  /** Streaming decontamination: the contaminated-id stream from a live
    * document feed vs a STATIC benchmark gram set — the online form of
    * `TextAnalysis.decontaminate` (filter docs as they arrive, not in a
    * nightly sweep).
    *
    * Shape: the stream's grams explode map-side into a stream-static LEFT
    * SEMI join (static side broadcasts — eval suites are MBs, same argument
    * as the batch op), then watermark-bounded `dropDuplicates(doc_id)`
    * collapses multi-gram hits to one row per contaminated doc. Every stage
    * is append-mode-legal; state = one id per contaminated doc within the
    * watermark horizon. Downstream subtracts these ids from the ingest. */
  def contaminatedIds(docs: DataFrame, benchGrams: DataFrame, n: Int = 8,
                      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"),
        explode(graft.operators.TextAnalysis.wordGrams(col("text"), n)).as("gram"))
      .join(broadcast(benchGrams.select("gram")), Seq("gram"), "left_semi")
      .dropDuplicates("doc_id")
      .select("doc_id")

  /** Streaming distinct-count maintenance — the stream twin of
    * `Merge.incrementalDistinct`: one HLL sketch of state per key,
    * estimates re-emitted (update mode) for keys that received input.
    *
    * The agreement with the batch form is EXACT, not approximate-vs-exact:
    * HLL state merges by register-wise max, which is associative and
    * commutative, so accumulating a stream row-by-row and unioning a
    * snapshot sketch with a delta sketch produce the SAME registers — and
    * therefore the same estimate (the spec asserts it). State per key is
    * one fixed-size sketch, independent of value cardinality — the property
    * that makes distinct-count maintainable at all; a `dropDuplicates`
    * formulation would hold every distinct value as state. */
  def distinctCounts(updates: DataFrame, keys: Seq[String],
                     valueCol: String): DataFrame =
    updates.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol)).as("dv_sketch"))
      .withColumn("n_distinct_est", hll_sketch_estimate(col("dv_sketch")))

  /** Streaming upsert view: the latest row per key from a CDC-style update
    * feed — the streaming twin of `Merge.upsertLatest` with an empty target.
    * `max_by` over a (version, tiebreak...) ordering struct keeps exactly one
    * row of state per live key. In update mode Spark re-emits every key that
    * RECEIVED INPUT in the batch (measured — a stale update re-emits the
    * unchanged winner, it does not suppress the row); untouched keys are
    * never re-emitted, and any emission carries the current winner, so a
    * stale update can never surface its own values. Downstream sinks must
    * therefore upsert idempotently by key, not append.
    *
    * `payload` columns are carried through the state struct; callers list
    * them explicitly so state width is a choice, not an accident. */
  def upsertLatest(updates: DataFrame, keys: Seq[String], version: String,
                   tiebreak: Seq[String], payload: Seq[String]): DataFrame = {
    val ord = struct((version +: tiebreak).map(col): _*)
    val row = struct((Seq(version) ++ tiebreak ++ payload).distinct.map(col): _*)
    updates
      .groupBy(keys.map(col): _*)
      .agg(max_by(row, ord).as("__latest"))
      .select(keys.map(col) ++
        (Seq(version) ++ tiebreak ++ payload).distinct.map(c =>
          col(s"__latest.$c").as(c)): _*)
  }

  /** Stream-stream INTERVAL self-join (attribution): each `leftType` event
    * pairs with same-user `rightType` events from the preceding
    * `lookbackSeconds` — the click-to-view attribution shape. The time-bound
    * join condition is what lets Structured Streaming BOUND STATE: with
    * watermarks on both sides, a buffered right-side row is dropped once the
    * left watermark passes `ts + lookback`, so state is the lookback window's
    * worth of events per side, not the stream.
    *
    * The same function runs in batch (watermarks are a no-op there) — the
    * spec proves stream/batch agreement, and `q_attribution` oracles the
    * batch form. Timestamp arithmetic is exact on both engines (no float
    * epoch math), so sub-second boundaries agree. */
  def attributionJoin(events: DataFrame, leftType: String = "click",
                      rightType: String = "view",
                      lookbackSeconds: Long = 3600L,
                      watermarkDelay: String = "30 minutes"): DataFrame = {
    // Watermarks are TIMESTAMP-only (Spark rejects TIMESTAMP_NTZ with
    // EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) but the fixture tables read as
    // NTZ — normalize on entry and cast the output timestamps back, which
    // is exact under the pinned-UTC session TZ, so the batch twin's schema
    // and values are unchanged.
    val tsType = events.schema("ts").dataType
    val evs =
      if (tsType == org.apache.spark.sql.types.TimestampNTZType)
        events.withColumn("ts", col("ts").cast("timestamp"))
      else events
    val clicks = evs.filter(col("event_type") === leftType)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val views = evs.filter(col("event_type") === rightType)
      .select(col("event_id").as("view_id"), col("user_id").as("__vu"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermarkDelay)
    clicks.join(views,
        col("user_id") === col("__vu") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $lookbackSeconds SECONDS") &&
        col("view_ts") <= col("click_ts"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        col("click_ts").cast(tsType).as("click_ts"),
        col("view_ts").cast(tsType).as("view_ts"))
  }

  case class Event(event_id: Long, user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(sessionSeq: Long, lastSec: Long, nEvents: Long, startSec: Long)
  case class SessionOut(user_id: Long, session_seq: Long, n_events: Long,
                        session_start: Long, session_end: Long)

  /** Streaming gap sessionization with explicit state — the
    * `flatMapGroupsWithState` form of `JsonOps.sessionize`. Emits a session
    * when a gap closes it; state times out with the event-time watermark. */
  def sessionize(events: Dataset[Event], gapSeconds: Long = 1800L): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.sessionSeq, s.nEvents, s.startSec, s.lastSec))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                case Some(s) if sec - s.lastSec <= gapSeconds =>
                  cur = Some(s.copy(lastSec = sec, nEvents = s.nEvents + 1))
                case Some(s) => // gap: close previous session, open next
                  out += SessionOut(userId, s.sessionSeq, s.nEvents, s.startSec, s.lastSec)
                  cur = Some(SessionState(s.sessionSeq + 1, sec, 1L, sec))
                case None =>
                  cur = Some(SessionState(1L, sec, 1L, sec))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + gapSeconds * 1000)
            }
            out.result().iterator
          }
        })
  }

  /** Streaming passage-duplication detection — the streaming twin of the
    * digest stage behind `Dedup.duplicatedSpans`: per-doc sliding-window
    * md5 digests explode map-side (stateless), and the only state is ONE
    * COUNT PER DISTINCT DIGEST — counts merge associatively, so stream
    * accumulation over any trigger split lands on the batch counts exactly
    * (the spec asserts it). Digests with `n_copies > 1` are the duplicated
    * passages; the per-doc island/span arithmetic is deterministic per-doc
    * work that runs downstream of this state, batch-side, on the flagged
    * minority.
    *
    * Same digest construction as the batch lane (window tokens, normalized
    * lowercase alnum) — a drifted digest would silently miss cross-lane
    * duplicates. Update mode re-emits a digest's count whenever it grows;
    * sinks read the max (counts are monotone). */
  def duplicatedDigestCounts(docs: DataFrame, window: Int = 16,
                             text: String = "text"): DataFrame = {
    require(window > 1, "need window > 1")
    val w = split(trim(regexp_replace(lower(col(text)), "[^a-z0-9]+", " ")), " ")
    docs.select(w.as("__w"))
      .filter(size(col("__w")) >= window)
      .select(explode(transform(
        sequence(lit(1), size(col("__w")) - (window - 1)),
        i => md5(concat_ws(" ", slice(col("__w"), i, lit(window)))))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n_copies"))
  }

  /** Streaming NEAR-dup detection against a static history — the online
    * form of `NearDup.nearDupSurvivorsVsHistory`'s match stage: as
    * documents arrive, each computes its shingle set + MinHash signature
    * map-side (stateless narrow ops), its LSH band keys join the HISTORY's
    * precomputed band table (stream-static equi-join; the history sketch
    * is the batch-side artifact the incremental batch lane already
    * persists), candidates verify with exact Jaccard against the history
    * shingle sets, and one watermark-bounded `dropDuplicates` collapses
    * multi-band hits to one row per matched stream doc. Downstream
    * subtracts matched ids from the ingest — emitting HITS (not survivors)
    * is what keeps every stage append-mode-legal.
    *
    * State: the dedup set of matched (doc_id) within the watermark horizon
    * — NOT the history (static, broadcast by Spark's stream-static join
    * planning) and NOT the stream. Same band scheme as the batch lane
    * (bit-identical keys), so stream hits == batch match set, asserted in
    * `StreamingOpsSpec`. */
  def nearDupHitsVsHistory(docs: DataFrame, historySigs: DataFrame,
                           threshold: Double = 0.5, words: Int = 3,
                           watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.operators.NearDup
    val sh = NearDup.shingles(col("text"), words)
    val sig = NearDup.minhashSig(col("sh"))
    val bands = NearDup.bandKeys(col("sig"))
    val hBands = historySigs.select(col("doc_id").as("h_id"), explode(bands).as("bk"))
      .select(col("h_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val hSets = historySigs.select(col("doc_id").as("h_id"), col("sh").as("h_sh"))
    docs
      .withColumn("sh", sh).withColumn("sig", sig)
      .withColumn("ts", col("ts"))
      .select(col("doc_id"), col("ts"), col("sh"), explode(bands).as("bk"))
      .select(col("doc_id"), col("ts"), col("sh"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .join(hBands, Seq("band", "key"))
      .join(hSets, Seq("h_id"))
      .withColumn("inter", graft.functions.VectorFunctions
        .sorted_intersect_count(col("sh"), col("h_sh")))
      .withColumn("jaccard", col("inter").cast("double") /
        ((size(col("sh")) + size(col("h_sh"))).cast("long") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates("doc_id")
      .select("doc_id", "ts")
  }

  /** STREAMING ADMISSION funnel — the streaming twin of
    * `CurationPipeline.admitBatch` against FROZEN history state (the
    * within-batch stages belong to the batch job; a stream admits each doc
    * against history only):
    *
    *   blocklist/quality: stateless flags (shared column definitions with
    *   the batch op — the gates cannot drift);
    *   exact: stream-static LEFT SEMI / ANTI against the history
    *   fingerprint relation;
    *   near: band-key equi-join against the history signature bands with
    *   the exact-Jaccard verify in the join condition.
    *
    * Funnel resolution without unbounded state: every branch emits
    * (doc_id, ts, priority) rows — including a baseline `kept` row for
    * each exact-surviving doc — and ONE watermark-bounded windowed
    * `min(priority)` aggregation picks each document's first failing
    * stage. All of a doc's rows carry its own event time, so they land in
    * one window; state is bounded by the watermark horizon. */
  def admitStream(docs: DataFrame, historyFps: DataFrame,
                  historySigs: DataFrame,
                  phrases: Seq[String] = Seq("slow join"),
                  threshold: Double = 0.5, words: Int = 3,
                  watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.operators.{CurationPipeline, NearDup, TextAnalysis}
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val flagged = docs.select(col("doc_id"), col("text"), col("ts"),
      TextAnalysis.blockedBy(phrases, col("text")).as("__blocked"),
      (!(TextAnalysis.docLen(col("text"))
          .between(CurationPipeline.MinLen, CurationPipeline.MaxLen) &&
        TextAnalysis.stopRatio(col("text")) >= CurationPipeline.MinStopRatio))
        .as("__lowq"))
    def pri(df: DataFrame, p: Int): DataFrame =
      df.select(col("doc_id"), col("ts"), lit(p).as("pri"))
    val blocked = pri(flagged.filter(col("__blocked")), 0)
    val lowq = pri(flagged.filter(!col("__blocked") && col("__lowq")), 1)
    val g = flagged.filter(!col("__blocked") && !col("__lowq"))
      .withColumn("fp", md5(norm))
    val exact = pri(g.join(historyFps, Seq("fp"), "left_semi"), 2)
    val nonExact = g.join(historyFps, Seq("fp"), "left_anti")

    val bands = NearDup.bandKeys(col("sig"))
    val sBand = nonExact
      .withColumn("sh", NearDup.shingles(col("text"), words))
      .withColumn("sig", NearDup.minhashSig(col("sh")))
      .select(col("doc_id"), col("ts"), col("sh"), explode(bands).as("bk"))
      .select(col("doc_id"), col("ts"), col("sh"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val hBandSets = historySigs.select(explode(bands).as("bk"), col("sh").as("h_sh"))
      .select(col("bk.band").as("h_band"), col("bk.key").as("h_key"), col("h_sh"))
    val inter = graft.functions.VectorFunctions
      .sorted_intersect_count(col("sh"), col("h_sh"))
    val jac = inter.cast("double") /
      ((size(col("sh")) + size(col("h_sh"))).cast("long") - inter).cast("double")
    val near = pri(sBand.join(hBandSets,
      col("band") === col("h_band") && col("key") === col("h_key") &&
        jac >= threshold, "left_semi"), 3)
    val baseline = pri(nonExact, 4)

    blocked.union(lowq).union(exact).union(near).union(baseline)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(min("pri").as("__pri"))
      .select(col("doc_id"),
        when(col("__pri") === 0, "blocklist")
          .when(col("__pri") === 1, "quality")
          .when(col("__pri") === 2, "exact_dup")
          .when(col("__pri") === 3, "near_dup")
          .otherwise("kept").as("stage"))
  }

  /** Streaming quality-bucket assignment — the streaming twin of
    * `TextAnalysis.qualityBuckets` in its production shape: percentile
    * boundaries are FROZEN from a reference snapshot
    * (`TextAnalysis.qualityCuts`, a 1-row frame that broadcasts) and each
    * arriving document is assigned statelessly — per-row score, broadcast
    * lookup, no state store, append mode. Recomputing boundaries per
    * micro-batch would make tier membership depend on arrival batching;
    * freezing them is both the correct semantics and the only
    * bounded-state one. Shares the assignment expression with the batch op
    * so the bucket rule cannot drift. */
  def qualityBucketAssign(docs: DataFrame, cuts: DataFrame,
                          score: org.apache.spark.sql.Column = col("chars_per_token"),
                          id: String = "doc_id"): DataFrame = {
    val scored = graft.operators.TextAnalysis.qualityScore(docs, id = id)
      .select(col(id), score.as("__score"))
    graft.operators.TextAnalysis.bucketAssign(scored, cuts, id)
  }

  /** Streaming count-min sketch maintenance — the online twin of
    * `TextAnalysis.cmsSketch`. Cell counts are pure monotone sums, so
    * stream accumulation over ANY trigger split lands on the batch sketch
    * exactly (asserted in the spec). State is d*w rows — bounded forever,
    * no watermark needed. Update mode re-emits a cell when it grows; sinks
    * keep the max. */
  def cmsCounts(docs: DataFrame, d: Int = 4, w: Int = 256,
                text: String = "text"): DataFrame =
    graft.operators.TextAnalysis.cmsCells(docs, d, w, text)
      .groupBy("sketch_row", "bucket")
      .count().withColumnRenamed("count", "n")

  /** Streaming CDC aggregate maintenance WITH RETRACTIONS — the online twin
    * of `Merge.incrementalAggRetract`: signed count/sum folds are plain
    * sums, so the maintained view is ONE streaming aggregation; update mode
    * re-emits keys that received input. A key whose live count reaches 0
    * still EMITS (n=0) rather than vanishing — a streaming agg cannot
    * retract an output row, so n=0 is the delete marker the sink applies
    * (the standard changelog convention; the batch form filters instead). */
  def retractCounts(updates: DataFrame, keys: Seq[String], valueCol: String,
                    op: String = "op"): DataFrame =
    graft.operators.Merge.retractSnapshot(updates, keys, valueCol, op)

  /** Streaming KMV distinct-count maintenance — the online twin of
    * `Merge.kmvSketch` and the ESTIMATE-exact companion to
    * [[distinctCounts]]' HLL: state is the k smallest distinct md5 hashes
    * (one O(k) buffer), maintained by the same `MinKDistinct` aggregator
    * the batch builder uses, so stream accumulation over any trigger split
    * lands on the batch sketch EXACTLY — array and estimate, not just the
    * verdict. One stateful op (the aggregator dedupes internally; a
    * distinct-then-min-k chain would be two and Structured Streaming
    * rejects it). Complete mode re-emits the current 1-row sketch. */
  def kmvDistinct(items: DataFrame, k: Int = 64,
                  item: String = "item"): DataFrame =
    graft.operators.Merge.kmvSketch(items, k, item)

  /** Streaming drift timeline — the online twin of `Funnel.driftTimeline`
    * against a FROZEN reference mix (the batch form derives the reference
    * from the first week; online, the reference is a deployed artifact).
    * One stateful aggregation: daily windows hold the per-type counts as
    * conditional sums over the reference's (small, driver-literal) type
    * list, and the TV distance folds in a fixed type order from exact
    * cross-multiplied decimal terms — types the reference never saw need
    * no column at all, because their mass is (N_d - sum known) and each
    * contributes |n_t*N_ref - 0| summing to exactly that remainder times
    * N_ref. Append mode emits a day when its watermark closes; emitted
    * rows match the batch computation on the same days bit-for-bit
    * (asserted). */
  def driftTimeline(events: DataFrame, refMix: Map[String, Long],
                    watermarkDelay: String = "1 hour"): DataFrame = {
    require(refMix.nonEmpty && refMix.values.forall(_ >= 0))
    val nRef = refMix.values.sum
    val types = refMix.keys.toSeq.sorted
    val dec = "decimal(38,0)"
    val knownCounts = types.map(t =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"__n_$t"))
    val base = events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_day"), knownCounts: _*)
    val knownTerms = types.map(t =>
      abs(col(s"__n_$t").cast(dec) * lit(nRef)
        - lit(refMix(t)).cast(dec) * col("n_day")))
    val unseen = (col("n_day") -
      types.map(t => col(s"__n_$t")).reduce(_ + _)).cast(dec) * lit(nRef)
    base
      .withColumn("__tv_num", knownTerms.reduce(_ + _) + unseen)
      .select(col("window.start").cast("date").as("day"), col("n_day"),
        (col("__tv_num").cast("double")
          / (lit(2.0) * col("n_day").cast("double")
            * lit(nRef.toDouble))).as("tv"))
  }

  /** Streaming quantile-sample maintenance — the online twin of
    * `Merge.quantileSample`: state is the k rows with the smallest
    * content-addressed priorities plus their value payloads (one O(k)
    * buffer via the same `MinKByPri` aggregator), so stream accumulation
    * over any trigger split lands on the batch sample EXACTLY and
    * downstream quantile estimates agree bit-for-bit. One stateful op;
    * complete mode re-emits the current sample rows. */
  def quantileSample(rows: DataFrame, k: Int = 256, id: String = "id",
                     valueCol: String = "v"): DataFrame =
    graft.operators.Merge.quantileSample(rows, k, id, valueCol)

  /** Streaming line-boilerplate doc-frequency maintenance — the online twin
    * of `LineDedup.docFreq`/`mergeDocFreq`: per-distinct-line document
    * frequency is a SUM over per-doc contributions, so stream accumulation
    * over any trigger split equals the batch frequency table exactly.
    *
    * The batch form chains TWO aggregates (per-(digest, doc) dedup, then
    * the digest count) — unsupported as chained streaming aggregations.
    * But a document arrives WHOLE in one row, so its per-doc line dedup is
    * stateless: `array_distinct` over the row's own chunked lines, then
    * explode, leaving ONE stateful aggregation. Equal digests are equal
    * lines (the same md5-identity assumption the batch per-(digest, doc)
    * dedup makes), so deduping by line text per doc is the identical set.
    * Complete mode re-emits the current (digest, doc_freq, line) state. */
  def lineDocFreq(docs: DataFrame, wordsPerLine: Int): DataFrame = {
    val chunks = transform(
      sequence(lit(0),
        ((size(split(col("text"), " ")) - 1) / wordsPerLine).cast("int")),
      i => array_join(
        slice(split(col("text"), " "), i * wordsPerLine + 1,
          lit(wordsPerLine)), " "))
    docs.select(col("doc_id"), explode(array_distinct(chunks)).as("line"))
      .withColumn("__h", md5(col("line")))
      .groupBy("__h")
      .agg(count(lit(1)).as("doc_freq"), min(col("line")).as("line"))
      .select("__h", "line", "doc_freq")
  }

  /** Streaming compaction tail-state maintenance — the online twin of
    * `Compaction.tailTotals`: per-partition-dir running byte totals are a
    * SUM, so the complete-mode state after any trigger split equals the
    * batch tails, and `Compaction.assignIncrementalFromTails` over the
    * streamed state places new files bit-identically to batch
    * `assignIncremental` over the full history (spec-asserted). */
  def compactionTails(files: DataFrame, part: String = "part",
                      bytes: String = "bytes"): DataFrame =
    graft.operators.Compaction.tailTotals(files, part, bytes)

  case class FunnelEvent(event_id: Long, user_id: Long,
                         ts: java.sql.Timestamp, event_type: String)
  case class FunnelState(stageTimes: List[Long])
  case class FunnelOut(user_id: Long, stage_reached: Long, stage_ts: Long)

  /** Streaming conversion funnel — the online twin of
    * `graft.operators.Funnel.conversionFunnel`. State per user is ONE list
    * of attained stage times (micros), at most `steps.length` longs.
    *
    * Events are processed in event-time order within each micro-batch
    * (sorted); across batches the state advances monotonically — stage i+1
    * attaches to the FIRST qualifying event after the stored stage-i time,
    * exactly the batch chain when events arrive watermark-ordered (the
    * agreement test's split respects event time, as a watermarked pipeline
    * guarantees for closed windows). Update-mode emissions carry the user's
    * current deepest stage; sinks upsert by user. */
  def conversionFunnel(events: Dataset[FunnelEvent],
                       steps: Seq[String] = Seq("view", "click", "purchase"),
                       windowSeconds: Long = 7 * 24 * 3600L): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    val winMicros = windowSeconds * 1000000L
    val stepIdx = steps.zipWithIndex.toMap
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) => {
          val sorted = rows.toSeq
            .filter(e => stepIdx.contains(e.event_type))
            .sortBy(e => (e.ts.getTime, e.event_id))
          var times = state.getOption.map(_.stageTimes).getOrElse(Nil)
          sorted.foreach { e =>
            val i = stepIdx(e.event_type)
            val t = e.ts.getTime * 1000L
            if (i == 0 && times.isEmpty) times = List(t)
            else if (i == times.length && i > 0) {
              val prev = times.last
              if (t > prev && t <= prev + winMicros) times = times :+ t
            }
          }
          if (times.nonEmpty) {
            state.update(FunnelState(times))
            Iterator(FunnelOut(userId, times.length.toLong, times.last))
          } else Iterator.empty
        })
  }

  /** STREAMING entity resolution against FROZEN history — the streaming
    * twin of `EntityResolution.resolveIncremental`'s adoption stage: each
    * arriving record block-matches per pass against a static (key → min
    * entity) lookup built ONCE from history, adopts the smallest entity
    * across passes, or mints its own id as a new entity.
    *
    * Stateless by contract: stream-static left equi-joins in append mode,
    * no watermark, no state store. Intra-stream linking (two stream
    * records that match each other but nothing in history) is the batch
    * job's concern — closing transitive components over an unbounded
    * stream needs unbounded state, which is exactly the line the
    * incremental-ER contract draws. `StreamingOpsSpec` asserts agreement
    * with the batch operator on records without intra-batch edges. */
  def resolveStream(records: DataFrame, history: DataFrame,
                    historyEntities: DataFrame, idCol: String,
                    blockKeys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val histEnt = historyEntities
      .select(col("record_id").as("__h_id"), col("entity_id").as("__h_ent"))
    val keyed = records.select(
      (col(idCol).as("record_id") +:
        blockKeys.zipWithIndex.map { case (k, i) => k.as(s"__k$i") }): _*)
    val joined = blockKeys.zipWithIndex.foldLeft(keyed) { case (df, (k, i)) =>
      val lookup = history
        .select(col(idCol).as("__h_id"), k.as(s"__k$i"))
        .filter(col(s"__k$i").isNotNull)
        .join(histEnt, "__h_id")
        .groupBy(s"__k$i").agg(min(col("__h_ent")).as(s"__e$i"))
      df.join(lookup, Seq(s"__k$i"), "left")
    }
    val eCols = blockKeys.indices.map(i => col(s"__e$i"))
    val adopted = if (eCols.size == 1) eCols.head else least(eCols: _*)
    joined
      .withColumn("entity_id", coalesce(adopted, col("record_id")))
      .withColumn("is_new", adopted.isNull)
      .select("record_id", "entity_id", "is_new")
  }
}
