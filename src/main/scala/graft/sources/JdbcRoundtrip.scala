package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftConfig

/** Oracle-gated e2e roundtrip for `src_jdbc_partitioned`
  * (`HanaToDBRow.java:21-112`): land a deterministic slice of the lineitem
  * fixture in an embedded Derby database over JDBC, then read it back
  * through [[JdbcPartitionedSource.read]] with the reference's half-open
  * sentinel-closed chunk predicates — one Spark partition per chunk, schema
  * resolved driver-side. The result must hash-match DuckDB reading the SAME
  * slice straight off the parquet, which proves the partitioned JDBC scan
  * is lossless and exactly covering (every row in exactly one chunk).
  *
  * The load step caps at `capRows` rows in (l_orderkey, l_linenumber)
  * order — a unique key, so the slice is deterministic at any scale factor
  * and the bench cost of the JDBC write is SF-independent.
  *
  * Scale note: in production the DB already holds the data and only the
  * partitioned READ runs — chunk-per-partition is the reference's own
  * parallelism model and Spark's `JDBCRDD` executes one statement per
  * predicate exactly like `HanaToDBRow.java:103-111`. The write here is
  * harness setup, not the operator under test.
  */
object JdbcRoundtrip {

  private val DbUrl = "jdbc:derby:memory:graftrt;create=true"
  private val Driver = "org.apache.derby.jdbc.EmbeddedDriver"
  private val Table = "LINEITEM_RT"

  // the in-memory Derby DB outlives the query within one JVM: load once
  // per (sfDir, capRows) so a second bench iteration measures the
  // partitioned READ (the operator under test), not the harness write
  @volatile private var loaded: Option[(String, Int, Long, Long)] = None

  def roundtrip(spark: SparkSession, sfDir: String,
                capRows: Int = 50000, nChunks: Int = 8): DataFrame = {
    val (lo, hi) = loaded match {
      case Some((d, c, l, h)) if d == sfDir && c == capRows => (l, h)
      case _ =>
        val base = Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey").cast("long").as("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_quantity").cast("double").as("l_quantity"),
            col("l_extendedprice").cast("double").as("l_extendedprice"),
            col("l_returnflag"))
          .orderBy("l_orderkey", "l_linenumber")
          .limit(capRows)
        val props = new java.util.Properties()
        props.setProperty("driver", Driver)
        base.write.mode("overwrite").jdbc(DbUrl, Table, props)
        // chunk plan from the source's own bounds (the reference derives
        // its plan from the DB it is about to read — HanaToBQ.java:152-166)
        val b = base.agg(min(col("l_orderkey")).as("lo"),
          max(col("l_orderkey")).as("hi")).head()
        loaded = Some((sfDir, capRows, b.getLong(0), b.getLong(1)))
        (b.getLong(0), b.getLong(1))
    }
    val width = math.max(1L, (hi - lo) / nChunks + 1)
    val intervals = (0 until nChunks).map { i =>
      val s = lo + i * width
      val e = if (i == nChunks - 1) GraftConfig.Sentinel else lo + (i + 1) * width
      (s, e)
    }

    // Spark's JDBC writer quotes column names case-preserved; the
    // predicates quote the exact name (JdbcPartitionedSource.predicates)
    val cfg = GraftConfig(tableName = Table, connectionString = DbUrl,
      driver = Driver, timestampColumn = "l_orderkey",
      startTime = lo, chunkSize = width)
    JdbcPartitionedSource.read(spark, cfg, intervals)
      .orderBy("l_orderkey", "l_linenumber")
  }
}
