package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.GraftConfig
import graft.operators.{Chunking, RefPipeline, RowOps}
import graft.sinks.AppendSink
import graft.sources.JdbcPartitionedSource

/** The reference's user surface: 10 `--flag=value` CLI args parsed and
  * validated into a [[GraftConfig]], then the full pipeline
  * (`HanaToBQ.java:227-261`; arg list `README:20-35`; `Options` interface
  * `HanaToBQ.java:175-224`).
  *
  * Parity notes:
  *   - required/optional/default structure matches `@Validation.Required` /
  *     `@Default` exactly (driver defaults to `com.sap.db.jdbc.Driver`,
  *     chunkSize to 1,000,000; endTime is optional — and dead in the
  *     reference, honored here, the documented divergence);
  *   - Beam's `PipelineOptionsFactory` accepts runner/staging flags
  *     (`--runner`, `--tempLocation`, `--project`, `--stagingLocation` in the
  *     README's own invocation) alongside the pipeline options — unknown
  *     flags are likewise accepted and reported, not fatal;
  *   - the reference's `getSchema` catalog fetch exists to hand BigQuery a
  *     TableSchema; Spark derives the sink schema from the DataFrame itself,
  *     so the JDBC path needs no separate catalog round-trip
  *     ([[JdbcPartitionedSource.introspectJdbc]] remains available for
  *     catalog-driven casting).
  *
  * Dispatch: a `jdbc:` connection string runs the partitioned-JDBC pipeline
  * (chunk plan -> partition-per-predicate scan -> stringify -> null-literal
  * drop -> append sink); anything else is a directory of parquet fixtures and
  * runs [[RefPipeline.run]] (the offline stand-in, oracle-checked as
  * `q_ref_pipeline`).
  */
object GraftCli {

  /** `@Validation.Required` set (`HanaToBQ.java:176-214`). */
  val Required: Seq[String] = Seq("tableName", "connectionString", "username",
    "password", "destDataset", "timestampColumn", "startTime")

  val Known: Set[String] = Required.toSet ++ Set("driver", "endTime", "chunkSize")

  /** Sink format switch (ours): parquet (default) | table | bigquery. */
  val SinkFormatFlag = "sinkFormat"

  final case class Parsed(cfg: GraftConfig, sinkFormat: String,
                          unknown: Map[String, String])

  /** Parse `--flag=value` args; throws `IllegalArgumentException` with a
    * Beam-`withValidation`-style message listing every missing required flag. */
  def parse(args: Seq[String]): Parsed = {
    val kv = args.map { a =>
      if (!a.startsWith("--") || !a.contains('='))
        throw new IllegalArgumentException(
          s"Argument '$a' is not of the form --flag=value")
      val i = a.indexOf('=')
      (a.substring(2, i), a.substring(i + 1))
    }.toMap
    val missing = Required.filterNot(k => kv.get(k).exists(_.nonEmpty))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Missing required value for ${missing.map("--" + _).mkString("[", ", ", "]")}")
    def long(k: String, v: String): Long =
      try v.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"--$k must be an integer, got '$v'") }
    val cfg = GraftConfig(
      tableName = kv("tableName"),
      connectionString = kv("connectionString"),
      username = kv("username"),
      password = kv("password"),
      driver = kv.getOrElse("driver", "com.sap.db.jdbc.Driver"),
      destDataset = kv("destDataset"),
      timestampColumn = kv("timestampColumn"),
      startTime = long("startTime", kv("startTime")),
      endTime = kv.get("endTime").map(long("endTime", _)),
      chunkSize = long("chunkSize", kv.getOrElse("chunkSize", "1000000")))
    if (cfg.chunkSize <= 0)
      throw new IllegalArgumentException(
        s"--chunkSize must be positive, got ${cfg.chunkSize}")
    Parsed(cfg, kv.getOrElse(SinkFormatFlag, "parquet"),
      kv -- Known - SinkFormatFlag)
  }

  /** The reference pipeline over a live JDBC source: chunk boundaries from
    * the timestamp column, one scan partition per `[lo,hi)` predicate,
    * stringify + `"null"`-literal drop over every column, append sink.
    *
    * Rows with `startTime <= ts < effectiveEnd` are appended: `startTime`
    * is INCLUSIVE here, as [[GraftConfig]] documents. The reference's chunk
    * query filters `ts > startTime`; [[graft.sources.RefLoopDb]]
    * (`q_ref_loop_db`) keeps that exclusive start.
    *
    * Returns the number of rows this call appended (-1 for a remote sink),
    * counted by the append job itself. */
  def runJdbc(spark: SparkSession, cfg: GraftConfig,
              sinkFormat: String = "parquet"): Long = {
    val rel = spark.read.jdbc(cfg.connectionString, cfg.tableName,
      JdbcPartitionedSource.connectionProperties(cfg))
    // the configured timestamp column resolves against the relation's schema
    // to its exact name: backtick-quoted on the Spark side, dialect-quoted
    // in the pushed predicates (JdbcPartitionedSource.predicates)
    val ts = JdbcPartitionedSource.resolveColumn(rel, cfg.timestampColumn)
    val quoted = "`" + ts.replace("`", "``") + "`"
    // chunk planning reads ONLY the ts column (the reference's chunk query
    // projects the same single column — HanaToBQ.java:57), once; the driver
    // holds at most maxScanPartitions intervals at any table size
    val tsOnly = rel.select(col(quoted).cast("long").as(ts))
    val ivs = Chunking.boundedScanIntervals(tsOnly,
      cfg.copy(timestampColumn = quoted), tieBreak = Nil)
    val scanned = JdbcPartitionedSource.read(spark,
      cfg.copy(timestampColumn = ts), ivs)
    val projected =
      RowOps.dropNullLiterals(RowOps.stringifyAll(scanned),
        scanned.columns.toIndexedSeq)
    // the append job counts its own input rows: no second scan of the
    // source, no read of the sink
    val appended = Observation("graft_appended_rows")
    AppendSink.append(projected.observe(appended, count(lit(1)).as("rows")),
      cfg.destDataset, sinkFormat)
    sinkFormat match {
      case "parquet" | "table" => appended.get("rows").asInstanceOf[Long]
      case _ => -1L // remote sink; no offline count
    }
  }

  /** Parquet-fixture mode: [[RefPipeline.run]] with `connectionString` as the
    * fixture directory and `destDataset` as the sink path. */
  def runParquet(spark: SparkSession, cfg: GraftConfig): DataFrame =
    RefPipeline.run(spark, cfg.connectionString, cfg, cfg.destDataset)

  def run(spark: SparkSession, parsed: Parsed): Long =
    if (parsed.cfg.connectionString.startsWith("jdbc:"))
      runJdbc(spark, parsed.cfg, parsed.sinkFormat)
    else
      runParquet(spark, parsed.cfg).count()

  def main(args: Array[String]): Unit = {
    val parsed =
      try parse(args.toIndexedSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage)
        System.err.println(
          "usage: GraftCli --tableName=T --connectionString=jdbc:...|<parquet dir> " +
            "--username=U --password=P --destDataset=D --timestampColumn=TS " +
            "--startTime=EPOCH [--endTime=EPOCH] [--chunkSize=N] [--driver=CLASS] " +
            s"[--$SinkFormatFlag=parquet|table|bigquery]")
        sys.exit(2)
      }
    if (parsed.unknown.nonEmpty)
      System.err.println(
        s"[graft] ignoring runner/staging flags: ${parsed.unknown.keys.toSeq.sorted.mkString(", ")}")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val n = run(spark, parsed)
      println(s"[graft] appended $n rows to ${parsed.cfg.destDataset}")
    } finally spark.stop()
  }
}
