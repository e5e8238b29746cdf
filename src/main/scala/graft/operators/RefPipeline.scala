package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftConfig
import graft.sinks.AppendSink
import graft.sources.Tables

/** The reference's ENTIRE pipeline (`HanaToBQ.main`, `HanaToBQ.java:227-261`)
  * composed from graft operators — the capstone parity query:
  *
  *   1. schema discovery            -> parquet/JDBC schema (authoritative)
  *   2. chunk planning              -> Chunking.plan
  *   3. parallel partitioned scan   -> one scan + broadcast interval range
  *      join assigning each row its half-open chunk (parquet stand-in;
  *      JdbcPartitionedSource.read maps chunks to scan partitions directly)
  *   4. stringify projection        -> RowOps.stringifyAll
  *   5. null-literal drop           -> RowOps.dropNullLiterals
  *   6. append sink, create-if-needed -> AppendSink, then read back
  *
  * Because the chunk intervals partition [start, sentinel) exactly (property-
  * tested), the unioned per-chunk scans return precisely the rows with
  * ts > startTime — which is what the oracle asserts, proving the plan's
  * coverage end-to-end rather than assuming it.
  */
object RefPipeline {

  def run(spark: SparkSession, dir: String, cfg: GraftConfig,
          sinkPath: String): DataFrame = {
    val src = Tables.lineitem(spark, dir)
      .withColumn(cfg.timestampColumn,
        col("l_shipdate").cast("timestamp").cast("long"))

    // 2. chunk plan (distributed form; parity form is plan-identical).
    // chunkSize is scaled to the table so the chunk count stays bounded —
    // the reference's 1M-row default serves the same purpose: chunks are a
    // parallelism unit, not a fixed row quota. count() here is column-pruned
    // to a metadata-only parquet row count.
    val n = src.count()
    val sized = cfg.copy(chunkSize = math.max(1L, n / 15))
    val intervals = Chunking.plan(src, sized, Seq("l_orderkey", "l_linenumber"))

    // 3. ONE scan + chunk assignment: each row joins its (unique, because the
    //    intervals partition [start, sentinel) — property-tested) half-open
    //    chunk via a broadcast range join. This replaces round 1's
    //    union-of-N-branches, which re-read the parquet once per chunk; the
    //    JDBC form (toPredicates -> partition-per-predicate) needs no join at
    //    all because the chunks ARE the scan partitions there. Per-row cost is
    //    O(#chunks) comparisons against the broadcast side — #chunks is small
    //    by construction (rows/chunkSize), the same bound the reference's
    //    driver-side boundary list relies on.
    val ts = col(cfg.timestampColumn)
    val chunked = src
      // seed interval starts AT startTime; ref's scan filter is ts > start
      .filter(ts > cfg.startTime)
      .join(broadcast(intervals), ts >= col("lo") && ts < col("hi"))
      .drop("chunk_id", "lo", "hi")

    // 4+5. projection stage (whole-stage codegen'd, no per-row Java loop)
    val projected = RowOps.dropNullLiterals(
      RowOps.stringifyAll(chunked.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        cfg.timestampColumn)),
      Seq("l_returnflag", "l_linestatus"))

    // 6. append + create-if-needed, then read back (sink round-trip)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(sinkPath), true)
    AppendSink.appendParquet(projected, sinkPath)
    // (l_orderkey, l_linenumber) is NOT unique in the fixture — the ORDER BY
    // must be total over all output columns for a deterministic dump
    AppendSink.readBack(spark, sinkPath)
      .orderBy(col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
        col("l_returnflag"), col("l_linestatus"),
        col(cfg.timestampColumn).cast("long"))
  }
}
