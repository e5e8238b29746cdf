package graft.operators

import org.apache.spark.sql.functions._
import graft.{JobTrace, SparkSpec}
import graft.core.GraftConfig
import graft.sources.Tables

class ChunkingSpec extends SparkSpec {

  def li = Tables.lineitem(spark, sf)
    .withColumn("ts_epoch", col("l_shipdate").cast("timestamp").cast("long"))
  val tie = Seq("l_orderkey", "l_linenumber")
  val start = 788918400L

  test("intervalsAdaptive is bit-identical on both sides of its threshold") {
    val b = Chunking.boundaries(li, "ts_epoch", tie, 100L, start)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val parity = rows(Chunking.intervals(b, "ts_epoch", start))
    // small side: default threshold picks the parity window
    assert(rows(Chunking.intervalsAdaptive(b, "ts_epoch", start)) == parity)
    // large side: threshold 0 forces the distributed-offsets form
    assert(rows(Chunking.intervalsAdaptive(b, "ts_epoch", start,
      smallThreshold = 0L)) == parity)
  }

  test("parity and distributed boundary computations are identical") {
    val a = Chunking.boundaries(li, "ts_epoch", tie, 100L, start)
      .collect().map(_.getLong(0)).toSeq
    val b = Chunking.boundariesDistributed(li, "ts_epoch", tie, 100L, start, 7)
      .collect().map(_.getLong(0)).toSeq
    assert(a == b)
    assert(a.nonEmpty)
    assert(a == a.sorted)
  }

  test("boundariesDistributed over a cached input equals the parity boundaries") {
    // a cached input plans the counts branch and the numbering branch as two
    // range exchanges over separate cache reads; each samples its own cut
    // points, so their partition ids must not be trusted to agree
    val cached = li.cache()
    try {
      cached.count()
      val a = Chunking.boundaries(cached, "ts_epoch", tie, 100L, start)
        .collect().map(_.getLong(0)).toSeq
      val b = Chunking.boundariesDistributed(cached, "ts_epoch", tie, 100L, start, 7)
        .collect().map(_.getLong(0)).toSeq
      assert(a.nonEmpty)
      assert(b == a)
    } finally cached.unpersist(blocking = true)
  }

  test("intervalsDistributed over a cached boundary set equals the parity zip") {
    // every row a boundary: enough rows that the range partitioner samples
    val cached = li.filter(col("ts_epoch") > start).select("ts_epoch").cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    try {
      cached.count()
      val parity = rows(Chunking.intervals(cached, "ts_epoch", start))
      assert(rows(Chunking.intervalsDistributed(cached, "ts_epoch", start,
        numPartitions = 7)) == parity)
    } finally cached.unpersist(blocking = true)
  }

  test("intervals partition [start, sentinel): seeded, contiguous, half-open, sentinel-closed (HanaToBQ.java:150-172)") {
    val b = Chunking.boundaries(li, "ts_epoch", tie, 100L, start)
    val iv = Chunking.intervals(b, "ts_epoch", start)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(iv.head._2 == start)                        // seeded with startTime
    assert(iv.last._3 == GraftConfig.Sentinel)         // closed with sentinel
    iv.sliding(2).foreach { case Seq((_, _, hi1), (_, lo2, _)) =>
      assert(hi1 == lo2)                               // contiguous, no gap/overlap
    case _ => ()
    }
    iv.foreach { case (_, lo, hi) => assert(lo < hi) }
    assert(iv.map(_._1) == iv.indices.map(_.toLong))   // chunk_id dense from 0
  }

  test("every row lands in exactly one interval (half-open [lo,hi))") {
    val n = li.filter(col("ts_epoch") > start).count()
    val b = Chunking.boundaries(li, "ts_epoch", tie, 100L, start)
    val iv = Chunking.intervals(b, "ts_epoch", start)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val counted = iv.map { case (lo, hi) =>
      // strict > on the seed interval's lo matches the ref's ts > start scan filter
      li.filter(col("ts_epoch") > start && col("ts_epoch") >= lo && col("ts_epoch") < hi).count()
    }.sum
    assert(counted == n)
  }

  test("toPredicates emits the reference's per-chunk WHERE shape (HanaToDBRow.java:103-111)") {
    val p = Chunking.toPredicates(Seq((10L, 20L), (20L, 30L)), "ts")
    assert(p.toSeq == Seq("ts >= 10 AND ts < 20", "ts >= 20 AND ts < 30"))
  }

  test("no boundaries (empty/filtered-out input) -> the single [start, sentinel) interval") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("ts", "id")
    val b = Chunking.boundaries(empty, "ts", Seq("id"), 10L, start)
    assert(b.count() == 0)
    val iv = Chunking.intervals(b, "ts", start)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(iv.toSeq == Seq((0L, start, graft.core.GraftConfig.Sentinel)))
  }

  test("chunkSize larger than the table -> same single covering interval") {
    import spark.implicits._
    val df = Seq((1000L, 1L), (2000L, 2L)).toDF("ts", "id")
    val b = Chunking.boundaries(df, "ts", Seq("id"), 100L, 0L)
    assert(b.count() == 0)
    val iv = Chunking.intervals(b, "ts", 0L).collect()
    assert(iv.length == 1)
  }

  test("boundary count ~ rows/chunkSize") {
    val rows = li.filter(col("ts_epoch") > start).count()
    val k = Chunking.boundaries(li, "ts_epoch", tie, 100L, start).count()
    assert(k == rows / 100)
  }

  test("boundedScanIntervals: driver list capped, contiguous, covers the grid exactly") {
    val cfg = GraftConfig(tableName = "t", connectionString = "",
      timestampColumn = "ts_epoch", startTime = start, chunkSize = 50L)
    val grid = Chunking.plan(li, cfg, tie)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(grid.length > 16, s"fixture too small for a meaningful cap test")
    val capped = Chunking.boundedScanIntervals(li, cfg, tie,
      maxScanPartitions = 16)
    // bounded: the CLI's driver materialization is O(cap) even when the
    // chunk grid is much larger
    assert(capped.length <= 16, s"cap violated: ${capped.length}")
    // contiguous half-open cover with the same start and sentinel close
    assert(capped.head._1 == grid.head._1)
    assert(capped.last._2 == grid.last._2)
    capped.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi == lo2, "gap in coverage")
      case _ =>
    }
    // scanned-row identity: each coarse interval is a union of consecutive
    // grid chunks, so per-interval row counts tie out to the grid's
    val rowsOf = (ivs: Seq[(Long, Long)]) => ivs.map { case (lo, hi) =>
      li.filter(col("ts_epoch") > start &&
        col("ts_epoch") >= lo && col("ts_epoch") < hi).count()
    }.sum
    assert(rowsOf(capped) == rowsOf(grid))
  }

  test("boundedScanIntervals: grid already under the cap passes through unchanged") {
    val cfg = GraftConfig(tableName = "t", connectionString = "",
      timestampColumn = "ts_epoch", startTime = start, chunkSize = 100000L)
    val capped = Chunking.boundedScanIntervals(li, cfg, tie,
      maxScanPartitions = 512)
    val grid = Chunking.plan(li, cfg, tie)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(capped == grid)
  }

  test("plan and boundedScanIntervals honour endTime: nothing inverted, nothing past it") {
    val rows = li.filter(col("ts_epoch") > start).select("ts_epoch")
      .collect().map(_.getLong(0)).sorted
    val end = rows(rows.length / 2)
    val inRange = rows.count(_ < end).toLong
    val cfg = GraftConfig(tableName = "t", connectionString = "",
      timestampColumn = "ts_epoch", startTime = start, endTime = Some(end),
      chunkSize = 50L)
    def check(ivs: Seq[(Long, Long)]): Unit = {
      assert(ivs.head._1 == start && ivs.last._2 == end)
      ivs.foreach { case (lo, hi) => assert(lo <= hi, s"inverted [$lo, $hi)") }
      ivs.sliding(2).foreach {
        case Seq((_, hi), (lo2, _)) => assert(hi == lo2)
        case _ =>
      }
    }
    val grid = Chunking.plan(li, cfg, tie)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    check(grid)
    assert(grid.length == inRange / 50 + 1)
    val ivs = Chunking.boundedScanIntervals(li, cfg, tie, maxScanPartitions = 16)
    check(ivs)
    val stride = (grid.length + 15) / 16
    assert(ivs.length == inRange / (50 * stride) + 1)
  }

  test("boundedScanIntervals runs at most four jobs") {
    val cfg = GraftConfig(tableName = "t", connectionString = "",
      timestampColumn = "ts_epoch", startTime = start, chunkSize = 50L)
    val input = li // its parquet schema inference is not the plan's
    val (ivs, trace) = JobTrace.of(spark) {
      Chunking.boundedScanIntervals(input, cfg, tie, maxScanPartitions = 16)
    }
    assert(ivs.nonEmpty)
    assert(trace.jobs <= 4, s"${trace.jobs} jobs")
  }
}
