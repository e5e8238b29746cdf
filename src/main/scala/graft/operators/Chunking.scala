package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{GlobalRank, GraftConfig}

/** Equi-depth chunk planning — the reference's most sophisticated computation
  * (SURVEY.md §2.3): the chunk-boundary window query (`HanaToBQ.java:57`)
  *
  * {{{
  * SELECT t.TS FROM
  *   (SELECT TS, ROW_NUMBER() OVER (ORDER BY TS) AS rownum
  *    FROM TBL WHERE TS > :start) AS t
  * WHERE MOD(rownum, :chunkSize) = 0 AND t.TS > :start
  * ORDER BY t.TS
  * }}}
  *
  * plus the driver-side interval zip with start seed and sentinel close
  * (`HanaToBQ.java:150-172`, sentinel `2000000000` at `:166`).
  *
  * Two implementations of the boundary query:
  *   - [[boundaries]]: literal parity — one global unpartitioned window.
  *     Exactly the reference's semantics AND its scalability hazard (the
  *     whole filtered table funnels through one task). Kept for parity tests.
  *   - [[boundariesDistributed]]: the 100 TB formulation. The global row
  *     number comes from [[GlobalRank.withRank]] (one range-partitioned sort,
  *     numbered by `zipWithIndex`), so no task holds more than one range
  *     partition. With a total order (tie-broken by unique keys) the output
  *     is bit-identical to [[boundaries]] no matter where the range
  *     partitioner cuts.
  *
  * The JDBC scan plan ([[boundedScanIntervals]]) needs only the boundary
  * VALUES: one read of the key column and an exact rank selection over it
  * ([[GlobalRank.valuesAtRanks]]).
  */
object Chunking {

  /** Ordered projection of the timestamp column with a deterministic global
    * row number, parity version (single-partition window — the plan Spark
    * itself warns about, matching the reference's own funnel). */
  def boundaries(df: DataFrame, ts: String, tieBreak: Seq[String],
                 chunkSize: Long, start: Long): DataFrame = {
    val ord: Seq[Column] = col(ts) +: tieBreak.map(col)
    val w = Window.orderBy(ord: _*)
    df.filter(col(ts) > lit(start))
      .withColumn("rownum", row_number().over(w).cast("long"))
      .filter(col("rownum") % lit(chunkSize) === 0 && col(ts) > lit(start))
      .select(col(ts))
      .orderBy(col(ts) +: tieBreak.map(col): _*)
  }

  /** Scale-path equivalent of [[boundaries]]: the same rows, numbered by
    * [[GlobalRank.withRank]] instead of a global window. Output is identical
    * given a total order (ts + unique tiebreak). */
  def boundariesDistributed(df: DataFrame, ts: String, tieBreak: Seq[String],
                            chunkSize: Long, start: Long,
                            numPartitions: Int = 0): DataFrame = {
    val keys: Seq[Column] = col(ts) +: tieBreak.map(col)
    val filtered = df.filter(col(ts) > lit(start)).select(keys: _*)
    GlobalRank.withRank(filtered, keys.map(_.asc), "rownum", numPartitions)
      .filter(col("rownum") % lit(chunkSize) === 0)
      .select(col(ts))
      .orderBy(keys: _*)
  }

  /** Interval zip (`agg_interval_zip`, SURVEY.md §2.3): consecutive boundary
    * values become half-open `[lo, hi)` chunk intervals, seeded with `start`
    * and closed with the sentinel — the reference's driver-side loop
    * (`HanaToBQ.java:161-166`) re-expressed as a `lead` window so it never
    * leaves the cluster. Boundary cardinality is ~rowcount/chunkSize, so the
    * window's single partition holds only the (small) boundary set.
    */
  def intervals(bounds: DataFrame, ts: String, start: Long,
                sentinel: Long = GraftConfig.Sentinel): DataFrame = {
    val spark = bounds.sparkSession
    import spark.implicits._
    val seeded = bounds.select(col(ts).cast("long").as("b"))
      .unionAll(Seq(start).toDF("b"))
    val w = Window.orderBy(col("b"))
    seeded
      .withColumn("chunk_id", (row_number().over(w) - 1).cast("long"))
      .withColumn("lo", col("b"))
      .withColumn("hi", lead(col("b"), 1, sentinel).over(w))
      .select("chunk_id", "lo", "hi")
      .orderBy("chunk_id")
  }

  /** Distributed form of [[intervals]] — no single-partition window anywhere.
    * At the default 1M chunkSize the boundary set is tiny, but SCALE.md's
    * own arithmetic (100 TB / 1 KB rows, small chunks) puts it at ~10^8 rows,
    * where one global `Window.orderBy` funnels everything through one task.
    * The seeded boundary set is numbered by [[GlobalRank.withRank]], and
    * each boundary's successor (`lead`) is resolved with a self-join on that
    * position — every exchange is range- or hash-partitioned on boundary
    * cardinality. Output is bit-identical to [[intervals]] (property-tested;
    * same oracle). */
  def intervalsDistributed(bounds: DataFrame, ts: String, start: Long,
                           sentinel: Long = GraftConfig.Sentinel,
                           numPartitions: Int = 0): DataFrame = {
    val spark = bounds.sparkSession
    import spark.implicits._
    val seeded = bounds.select(col(ts).cast("long").as("b"))
      .unionAll(Seq(start).toDF("b"))
    val numbered = GlobalRank.withRank(seeded, Seq(col("b").asc), "__rank",
        numPartitions)
      .select((col("__rank") - 1).as("chunk_id"), col("b").as("lo"))
    // distributed lead(1): boundary at position i+1 is interval i's hi
    val next = numbered
      .select((col("chunk_id") - 1).as("chunk_id"), col("lo").as("hi"))
    numbered.join(next, Seq("chunk_id"), "left")
      .select(col("chunk_id"), col("lo"),
        coalesce(col("hi"), lit(sentinel)).as("hi"))
      .orderBy("chunk_id")
  }

  /** Interval zip that picks its physical form by boundary CARDINALITY:
    * below `smallThreshold` the parity form ([[intervals]]) — one window
    * over a provably tiny set, no exchanges worth scheduling; above it the
    * distributed form ([[intervalsDistributed]]), whose fixed
    * multi-exchange overhead only pays for itself when the boundary set is
    * too big for one task (~10^8 boundaries at 100 TB with small chunks).
    * Both forms are bit-identical (property-tested), so the switch is pure
    * physical planning. The boundary frame is materialized once
    * (localCheckpoint) — counted, then zipped, never recomputed. */
  def intervalsAdaptive(bounds: DataFrame, ts: String, start: Long,
                        sentinel: Long = GraftConfig.Sentinel,
                        smallThreshold: Long = 100000L): DataFrame = {
    val b = bounds.localCheckpoint()
    if (b.count() <= smallThreshold) intervals(b, ts, start, sentinel)
    else intervalsDistributed(b, ts, start, sentinel)
  }

  /** End-to-end chunk plan from a config, over an epoch-seconds column:
    * intervals partitioning `[startTime, effectiveEnd)`, boundaries drawn
    * from the rows with `startTime < ts < effectiveEnd`.
    * Boundary computation always takes the distributed row-number form (the
    * input table is the 100 TB side); the interval zip adapts to the
    * boundary count ([[intervalsAdaptive]] — the boundary set is usually
    * rowcount/chunkSize, tiny, but must survive small chunkSize at scale). */
  def plan(df: DataFrame, cfg: GraftConfig, tieBreak: Seq[String]): DataFrame = {
    val b = boundariesDistributed(
      df.filter(col(cfg.timestampColumn) < lit(cfg.effectiveEnd)),
      cfg.timestampColumn, tieBreak, cfg.chunkSize, cfg.startTime)
    intervalsAdaptive(b, cfg.timestampColumn, cfg.startTime, cfg.effectiveEnd)
  }

  /** Chunk intervals -> JDBC partition predicates, the exact fan-out shape of
    * the reference's chunk strings (`"lo,hi"` at `HanaToBQ.java:162`, bound as
    * `ts >= ? AND ts < ?` at `HanaToDBRow.java:103-111`). Feed to
    * `spark.read.jdbc(url, table, predicates, props)` — one Spark partition
    * per predicate, the reference's chunk-per-worker model. */
  def toPredicates(intervals: Seq[(Long, Long)], ts: String): Array[String] =
    intervals.map { case (lo, hi) => s"$ts >= $lo AND $ts < $hi" }.toArray

  /** DRIVER-FACING scan plan with a bounded footprint: at most
    * `maxScanPartitions` contiguous half-open intervals
    * `[startTime, b1) … [bk, effectiveEnd)` covering the rows with
    * `startTime < ts < effectiveEnd` (the seed interval's `ts >= startTime`
    * predicate also takes rows at exactly `startTime`).
    *
    * The result equals the full chunk grid ([[plan]]) coalesced into groups
    * of `stride = ceil(#chunks / cap)` consecutive chunks, where
    * `#chunks = N / chunkSize + 1` over the `N` keys in range. Group `g`
    * starts at grid boundary `g·stride`, the key at rank
    * `g·stride·chunkSize`, so the coalesced boundaries are exactly the keys
    * at ranks that are multiples of `step = chunkSize·stride`. They are
    * selected directly ([[GlobalRank.valuesAtRanks]]) instead of building
    * the grid:
    *
    *   - the key column is read ONCE, as longs, into a local checkpoint.
    *     Later jobs read the checkpoint blocks; their lineage stops there,
    *     so the source sees one pass. Its count gives `N`;
    *   - the checkpoint is sorted once and the ranks are picked from it.
    *
    * `tieBreak` is accepted for the grid's signature and not needed: the
    * value at a rank of a sorted multiset does not depend on how ties are
    * ordered.
    *
    * This is the piece the JDBC scan API forces onto the driver — per-
    * partition predicates are plan-time strings — and the reference holds
    * the same list on ITS driver (`HanaToBQ.java:150-172`), unbounded: at
    * 100 TB with small chunks the grid is ~10^8 intervals, an OOM as a
    * driver list and useless as a scan fan-out (no DB serves 10^8
    * concurrent range queries). Capping keeps the driver list O(cap) at any
    * corpus size; scanned ROWS are identical (the union of the coalesced
    * intervals is the union of the grid), and the full-grain grid remains
    * available distributed ([[plan]]) for consumers that want chunk ids. */
  def boundedScanIntervals(df: DataFrame, cfg: GraftConfig,
                           tieBreak: Seq[String],
                           maxScanPartitions: Int = 512): Seq[(Long, Long)] = {
    require(maxScanPartitions > 0, "maxScanPartitions must be positive")
    val k = col(cfg.timestampColumn).cast("long")
    val keys = df.select(k.as("k"))
      .filter(col("k") > lit(cfg.startTime) && col("k") < lit(cfg.effectiveEnd))
      .as[Long](Encoders.scalaLong).rdd
      .localCheckpoint()
    try {
      val n = keys.count()
      val nChunks = n / cfg.chunkSize + 1
      val stride = math.max(1L,
        (nChunks + maxScanPartitions - 1) / maxScanPartitions.toLong)
      val bounds = GlobalRank.valuesAtRanks(keys, cfg.chunkSize * stride,
        df.sparkSession.sessionState.conf.numShufflePartitions)
      (cfg.startTime +: bounds).zip(bounds :+ cfg.effectiveEnd).toSeq
    } finally keys.unpersist(blocking = false)
  }
}
