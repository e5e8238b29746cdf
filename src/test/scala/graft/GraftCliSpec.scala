package graft

import java.nio.file.Files
import java.sql.DriverManager

import graft.core.GraftConfig
import graft.sinks.AppendSink

/** CLI surface parity (`HanaToBQ.java:175-228`, `README:20-35`): the
  * reference's 10 `--flag=value` args with `withValidation` semantics, driven
  * end-to-end against embedded Derby as the JDBC stand-in. */
class GraftCliSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftcli;create=true"

  private def setupTable(): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE SRC") catch { case _: Exception => () }
      st.execute("CREATE TABLE SRC (TS BIGINT NOT NULL, ID BIGINT NOT NULL, VAL VARCHAR(20))")
      val ps = conn.prepareStatement("INSERT INTO SRC VALUES (?, ?, ?)")
      (0 until 1000).foreach { i =>
        ps.setLong(1, (i * 7919L) % 5000L)
        ps.setLong(2, i.toLong)
        // plant the "null"-literal quirk (HanaDBRowToTableRowFn.java:33-35)
        ps.setString(3, if (i % 100 == 0) "NULL" else s"v$i")
        ps.addBatch()
      }
      ps.executeBatch()
      st.close(); ps.close()
    } finally conn.close()
  }

  /** The README's own invocation (`README:22-34`), verbatim shape: runner and
    * staging flags included, every pipeline option present. */
  private def readmeArgs(dest: String): Seq[String] = Seq(
    "--tempLocation=gs://my-bucket/temp",
    "--runner=DataflowRunner",
    "--project=my-project-id",
    "--stagingLocation=gs://my-bucket/staging",
    s"--connectionString=$url",
    "--tableName=SRC",
    "--username=app",
    "--password=secret",
    s"--destDataset=$dest",
    "--timestampColumn=TS",
    "--startTime=-1",
    "--endTime=2000000000",
    "--chunkSize=250",
    "--driver=org.apache.derby.jdbc.EmbeddedDriver")

  test("README arg list parses; runner/staging flags accepted as unknown, not fatal") {
    val p = GraftCli.parse(readmeArgs("/tmp/unused"))
    assert(p.cfg.tableName == "SRC")
    assert(p.cfg.username == "app" && p.cfg.password == "secret")
    assert(p.cfg.timestampColumn == "TS")
    assert(p.cfg.startTime == -1L)
    assert(p.cfg.endTime.contains(2000000000L))
    assert(p.cfg.chunkSize == 250L)
    assert(p.sinkFormat == "parquet")
    assert(p.unknown.keySet ==
      Set("tempLocation", "runner", "project", "stagingLocation"))
  }

  test("defaults mirror @Default: driver and chunkSize; endTime optional (dead in ref)") {
    val p = GraftCli.parse(Seq("--tableName=T", "--connectionString=x",
      "--username=u", "--password=p", "--destDataset=d",
      "--timestampColumn=TS", "--startTime=0"))
    assert(p.cfg.driver == "com.sap.db.jdbc.Driver")   // HanaToBQ.java:196-199
    assert(p.cfg.chunkSize == 1000000L)                // HanaToBQ.java:220-223
    assert(p.cfg.endTime.isEmpty)
    assert(p.cfg.effectiveEnd == GraftConfig.Sentinel) // HanaToBQ.java:166
  }

  test("missing required flags fail validation naming every missing flag") {
    val e = intercept[IllegalArgumentException] {
      GraftCli.parse(Seq("--tableName=T", "--startTime=5"))
    }
    assert(e.getMessage.startsWith("Missing required value for ["))
    Seq("--connectionString", "--username", "--password", "--destDataset",
      "--timestampColumn").foreach(f => assert(e.getMessage.contains(f), f))
    assert(!e.getMessage.contains("--tableName"))
    assert(!e.getMessage.contains("--startTime"))
  }

  test("malformed values fail fast: non-integer startTime, bad flag shape, bad chunkSize") {
    val base = Seq("--tableName=T", "--connectionString=x", "--username=u",
      "--password=p", "--destDataset=d", "--timestampColumn=TS")
    val e1 = intercept[IllegalArgumentException] {
      GraftCli.parse(base :+ "--startTime=tomorrow")
    }
    assert(e1.getMessage.contains("--startTime must be an integer"))
    val e2 = intercept[IllegalArgumentException] {
      GraftCli.parse(Seq("-tableName", "T"))
    }
    assert(e2.getMessage.contains("not of the form --flag=value"))
    val e3 = intercept[IllegalArgumentException] {
      GraftCli.parse((base :+ "--startTime=0") :+ "--chunkSize=0")
    }
    assert(e3.getMessage.contains("--chunkSize must be positive"))
  }

  test("end-to-end: README invocation against Derby — chunked read, stringify, null-literal drop, append") {
    setupTable()
    val dest = Files.createTempDirectory("graft_cli_sink").toString + "/out"
    val p = GraftCli.parse(readmeArgs(dest))
    val n = GraftCli.run(spark, p)
    assert(n == 1000L)
    val back = AppendSink.readBack(spark, dest)
    assert(back.count() == 1000L)
    assert(back.columns.toSeq == Seq("TS", "ID", "VAL"))
    // stringify stage: every sink column lands as string
    assert(back.schema.fields.forall(_.dataType.typeName == "string"))
    // "null"-literal drop: the 10 planted "NULL" strings arrive as SQL NULL
    assert(back.filter(back("VAL").isNull).count() == 10L)
    assert(back.filter(back("VAL") === "NULL").count() == 0L)
  }

  test("sinkFormat=table routes through saveAsTable and counts the table") {
    setupTable()
    val p = GraftCli.parse(
      readmeArgs("graft_cli_table_sink") :+ s"--${GraftCli.SinkFormatFlag}=table")
    try {
      val n = GraftCli.run(spark, p)
      assert(n == 1000L)
      assert(spark.table("graft_cli_table_sink").count() == 1000L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_cli_table_sink")
  }

  test("jdbc vs parquet dispatch keys off the connection string scheme") {
    val jdbc = GraftCli.parse(readmeArgs("/tmp/unused"))
    assert(jdbc.cfg.connectionString.startsWith("jdbc:"))
    val pq = GraftCli.parse(Seq("--tableName=lineitem",
      s"--connectionString=$sf", "--username=u", "--password=p",
      "--destDataset=/tmp/unused", "--timestampColumn=ts_epoch",
      "--startTime=0"))
    assert(!pq.cfg.connectionString.startsWith("jdbc:"))
  }

  test("timestamp column resolves case-insensitively to its exact, quoted name") {
    // Derby folds unquoted names to upper case: "ts_epoch" is only
    // reachable quoted, TS under either spelling
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE SRC_LOWER") catch { case _: Exception => () }
      st.execute("CREATE TABLE SRC_LOWER (\"ts_epoch\" BIGINT NOT NULL, ID BIGINT NOT NULL)")
      st.execute("INSERT INTO SRC_LOWER VALUES " +
        (0 until 100).map(i => s"(${i * 10}, $i)").mkString(", "))
      st.close()
    } finally conn.close()
    setupTable()
    def run(table: String, ts: String): Long = {
      val dest = Files.createTempDirectory("graft_cli_ts").toString + "/out"
      val args = readmeArgs(dest).map {
        case a if a.startsWith("--tableName=") => s"--tableName=$table"
        case a if a.startsWith("--timestampColumn=") => s"--timestampColumn=$ts"
        case a if a.startsWith("--chunkSize=") => "--chunkSize=30"
        case a => a
      }
      GraftCli.run(spark, GraftCli.parse(args))
    }
    assert(run("SRC_LOWER", "ts_epoch") == 100L)
    assert(run("SRC_LOWER", "TS_EPOCH") == 100L)
    assert(run("SRC", "TS") == 1000L)
    assert(run("SRC", "ts") == 1000L)
    val e = intercept[IllegalArgumentException](run("SRC", "ts_epoch"))
    assert(e.getMessage.contains("'ts_epoch' not found"), e.getMessage)
  }

  /** SRC_EDGE: 400 rows, every TS in 0..99 four times (ID = TS * 4 + copy). */
  private def setupEdgeTable(): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE SRC_EDGE") catch { case _: Exception => () }
      st.execute("CREATE TABLE SRC_EDGE (TS BIGINT NOT NULL, ID BIGINT NOT NULL)")
      st.execute("INSERT INTO SRC_EDGE VALUES " +
        (0 until 400).map(i => s"(${i / 4}, $i)").mkString(", "))
      st.close()
    } finally conn.close()
  }

  private def edgeArgs(dest: String, start: Long, end: Option[Long]): Seq[String] =
    readmeArgs(dest).flatMap {
      case a if a.startsWith("--tableName=") => Some("--tableName=SRC_EDGE")
      case a if a.startsWith("--startTime=") => Some(s"--startTime=$start")
      case a if a.startsWith("--endTime=") => end.map(e => s"--endTime=$e")
      case a if a.startsWith("--chunkSize=") => Some("--chunkSize=7")
      case a => Some(a)
    }

  private def sinkIds(dest: String): Seq[Long] =
    AppendSink.readBack(spark, dest).select("ID").collect()
      .map(_.getString(0).toLong).toSeq.sorted

  test("startTime is inclusive: rows at exactly startTime arrive") {
    setupEdgeTable()
    val dest = Files.createTempDirectory("graft_cli_start").toString + "/out"
    val n = GraftCli.run(spark, GraftCli.parse(edgeArgs(dest, 50L, None)))
    assert(n == 200L)
    // the four rows at TS = 50 are IDs 200..203
    assert(sinkIds(dest) == (200L until 400L))
  }

  test("endTime bounds the scan: the sink holds exactly the rows in [startTime, endTime)") {
    setupEdgeTable()
    val dest = Files.createTempDirectory("graft_cli_end").toString + "/out"
    val n = GraftCli.run(spark, GraftCli.parse(edgeArgs(dest, 20L, Some(61L))))
    assert(n == 164L)
    assert(sinkIds(dest) == (80L until 244L))
  }

  test("a startTime past every row appends nothing and still writes an empty sink") {
    setupEdgeTable()
    val dest = Files.createTempDirectory("graft_cli_empty").toString + "/out"
    val n = GraftCli.run(spark, GraftCli.parse(edgeArgs(dest, 1000L, None)))
    assert(n == 0L)
    val back = AppendSink.readBack(spark, dest)
    assert(back.columns.toSeq == Seq("TS", "ID"))
    assert(back.count() == 0L)
  }

  test("the returned count is this call's rows, not the destination's") {
    setupTable()
    val dest = Files.createTempDirectory("graft_cli_twice").toString + "/out"
    val p = GraftCli.parse(readmeArgs(dest))
    assert(GraftCli.run(spark, p) == 1000L)
    assert(GraftCli.run(spark, p) == 1000L)
    assert(AppendSink.readBack(spark, dest).count() == 2000L)
    val t = GraftCli.parse(
      readmeArgs("graft_cli_table_twice") :+ s"--${GraftCli.SinkFormatFlag}=table")
    try {
      assert(GraftCli.run(spark, t) == 1000L)
      assert(GraftCli.run(spark, t) == 1000L)
      assert(spark.table("graft_cli_table_twice").count() == 2000L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_cli_table_twice")
  }

  test("the chunk plan reads the source once in at most four jobs; the job reads it twice") {
    setupTable()
    val p = GraftCli.parse(readmeArgs("/tmp/unused"))
    val cfg = p.cfg.copy(driver = "org.apache.derby.jdbc.EmbeddedDriver")
    val tsOnly = spark.read.jdbc(cfg.connectionString, cfg.tableName,
        graft.sources.JdbcPartitionedSource.connectionProperties(cfg))
      .select(org.apache.spark.sql.functions.col("TS").cast("long").as("TS"))
    val (ivs, plan) = JobTrace.of(spark) {
      graft.operators.Chunking.boundedScanIntervals(tsOnly, cfg, tieBreak = Nil)
    }
    assert(ivs.length == 1000 / 250 + 1)
    assert(plan.jobs <= 4, s"${plan.jobs} jobs")
    // one stage over the source, reading each of the 1000 rows once
    assert(plan.jdbcStageRecords == Seq(1000L))
    // the whole job: the key pass plus the chunked scan, nothing more
    val dest = Files.createTempDirectory("graft_cli_reads").toString + "/out"
    val (n, job) = JobTrace.of(spark) {
      GraftCli.run(spark, GraftCli.parse(readmeArgs(dest)))
    }
    assert(n == 1000L)
    assert(job.jdbcStageRecords.sum == 2000L)
  }
}
