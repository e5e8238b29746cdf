package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftConfig, HanaTypes}
import graft.operators.{Chunking, RowOps}
import graft.sinks.AppendSink

/** The reference's ENTIRE loop (`HanaToBQ.main`, `HanaToBQ.java:227-261`)
  * against a LIVE database — the DB-backed twin of
  * [[graft.operators.RefPipeline]] (which uses parquet as the scan
  * stand-in). Every stage here talks to the source system the way the
  * reference does:
  *
  *   1. catalog introspection  -> a real catalog query over JDBC
  *      (`HanaToBQ.java:104-119`; Derby's SYSCOLUMNS stands in for HANA's
  *      TABLE_COLUMNS), landed through the fail-closed 21-lane type map and
  *      cross-checked against the JDBC relation's driver-resolved schema —
  *      the loop aborts if the two disagree, so schema drift between plan
  *      time and scan time cannot pass silently.
  *   2. chunk plan FROM the DB (`HanaToBQ.java:145-166`): the boundary scan
  *      runs over the JDBC source itself, boundaries every `chunkSize` rows
  *      (the reference's fixed-size chunk model), zipped to half-open
  *      intervals seeded at `startTime` and closed by the sentinel.
  *   3. parallel partitioned read: one Spark partition per chunk predicate
  *      (`HanaToDBRow.java:80-112` — one statement per chunk). The interval
  *      list is driver-side by construction (the reference materializes the
  *      same list as `"lo,hi"` strings, `HanaToBQ.java:162`), cardinality
  *      rows/chunkSize.
  *   4. stringify projection (`HanaDBRowToTableRowFn.java:27-36`) and
  *   5. null-literal drop (`:33-35`), both whole-stage codegen'd, then
  *   6. append sink + committed read-back.
  *
  * The oracle reads the SAME logical slice straight off the parquet, so a
  * green row proves the whole loop — catalog, plan, chunked scan, projection,
  * sink — is lossless and exactly covering end-to-end.
  *
  * Scale note: at 100 TB only stage 2's boundary scan and stage 3's chunked
  * read touch the DB, both with DB-side predicates; the boundary set
  * (rows/chunkSize) is the only driver-side materialization, the same
  * cardinality the reference holds in memory. The Derby LOAD below is
  * harness setup (the production DB already has the data), memoized per JVM
  * so a second bench iteration times the loop, not the fixture write.
  */
object RefLoopDb {

  private val DbUrl = "jdbc:derby:memory:graftloop;create=true"
  private val Driver = "org.apache.derby.jdbc.EmbeddedDriver"
  private val Table = "REF_LOOP"

  /** Fixed chunk size — the reference's model (1M rows, `HanaToBQ.java:220`),
    * scaled so the fixture yields a multi-chunk plan at every SF. */
  private val ChunkRows = 2000L

  /** Derby's TABLE_COLUMNS equivalent: SYSCOLUMNS joined to SYSTABLES, in
    * ordinal position order (the reference's catalog SQL shape,
    * `HanaToBQ.java:56`). COLUMNDATATYPE stringifies as e.g.
    * `VARCHAR(8) NOT NULL` — [[JdbcPartitionedSource.normalizeTypeName]]
    * strips the decoration before the type map. */
  val DerbyCatalogSql: String =
    "SELECT c.COLUMNNAME, CAST(c.COLUMNDATATYPE AS VARCHAR(128)) " +
      "FROM SYS.SYSCOLUMNS c JOIN SYS.SYSTABLES t ON c.REFERENCEID = t.TABLEID " +
      "WHERE t.TABLENAME = '%s' ORDER BY c.COLUMNNUMBER ASC"

  // fixture write happens once per (JVM, sfDir): the DB outlives the query
  @volatile private var loadedFor: Option[String] = None

  /** Loads the fixture slice into Derby (once per JVM and `sfDir`), runs the
    * loop, and returns the sink read back in a total order.
    *
    * `startTime` is EXCLUSIVE here: rows with `ts > startTime` arrive, the
    * reference's chunk-query filter (`HanaToBQ.java:57`). The seed interval
    * is shifted to `startTime + 1` for that. [[graft.GraftCli.runJdbc]]
    * instead takes `startTime` inclusively, as [[GraftConfig]] documents. */
  def run(spark: SparkSession, sfDir: String, startTime: Long,
          sinkPath: String = "/tmp/graft_ref_loop_db_sink"): DataFrame = {
    if (!loadedFor.contains(sfDir)) synchronized {
      if (!loadedFor.contains(sfDir)) {
        // deterministic mod-slice (no LIMIT: a slice cut by ORDER BY on a
        // possibly non-unique prefix is tie-broken differently per engine)
        val slice = Tables.lineitem(spark, sfDir)
          .filter(col("l_orderkey").cast("long") % 10 === 0)
          .select(
            col("l_orderkey").cast("long").as("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_returnflag"), col("l_linestatus"),
            col("l_shipdate").cast("timestamp").cast("long").as("ts_epoch"))
        val props = new java.util.Properties()
        props.setProperty("driver", Driver)
        // Spark's Derby dialect maps StringType to CLOB; pin VARCHAR so the
        // catalog round-trips through the reference type map's VARCHAR lane
        slice.write.mode("overwrite")
          .option("createTableColumnTypes",
            "l_returnflag VARCHAR(8), l_linestatus VARCHAR(8)")
          .jdbc(DbUrl, Table, props)
        loadedFor = Some(sfDir)
      }
    }

    // Spark's writer created the columns case-preserved; the predicates
    // quote the exact name (JdbcPartitionedSource.predicates)
    val cfg = GraftConfig(tableName = Table, connectionString = DbUrl,
      driver = Driver, timestampColumn = "ts_epoch",
      startTime = startTime, chunkSize = ChunkRows)

    // 1. introspect the live catalog through the fail-closed type map
    val introspected = JdbcPartitionedSource.introspectJdbc(
      cfg, HanaTypes.RefCompatible, DerbyCatalogSql, normalize = true)

    // 2. chunk plan FROM the DB: whole-range scan of the source (ref's
    //    boundary query runs on the DB too), boundaries every ChunkRows rows
    val whole = JdbcPartitionedSource.read(spark, cfg,
      Seq((startTime + 1, GraftConfig.Sentinel))) // ref scan filter is ts > start
    val live = whole.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val cat = introspected.fields.map(f => (f.name, f.dataType)).toSeq
    require(live == cat,
      s"catalog/scan schema drift: catalog=$cat scan=$live")

    // bounded driver list: <= cap contiguous intervals from one read of the
    // ts column (scanned rows identical; see Chunking.boundedScanIntervals)
    val ivs = Chunking.boundedScanIntervals(whole, cfg,
      Seq("l_orderkey", "l_linenumber"))
    // half-open reads are ts >= lo; the seed chunk must honor ts > startTime
    val shifted = ivs.map { case (lo, hi) =>
      if (lo == startTime) (lo + 1, hi) else (lo, hi)
    }

    // 3. one Spark partition per chunk predicate
    val scanned = JdbcPartitionedSource.read(spark, cfg, shifted)

    // 4+5. stringify + null-literal drop (codegen'd projection)
    val projected = RowOps.dropNullLiterals(RowOps.stringifyAll(scanned),
      Seq("l_returnflag", "l_linestatus"))

    // 6. append + read back the committed view
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(sinkPath), true)
    AppendSink.appendParquet(projected, sinkPath)
    AppendSink.readBack(spark, sinkPath)
      .orderBy(col("l_orderkey").cast("long"), col("l_linenumber").cast("long"),
        col("l_returnflag"), col("l_linestatus"), col("ts_epoch").cast("long"))
  }
}
