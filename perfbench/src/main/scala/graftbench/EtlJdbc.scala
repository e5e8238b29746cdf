package graftbench

import java.io.File

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col

import graft.GraftCli
import graft.core.{GraftConfig, HanaTypes}
import graft.operators.{Chunking, RowOps}
import graft.sinks.AppendSink
import graft.sources.{JdbcPartitionedSource, RefLoopDb}

/** The reference's own job: catalog introspection, then `GraftCli.runJdbc`
  * (equi-depth chunk plan, range-partitioned JDBC scan, stringify,
  * null-literal drop, parquet append) from an embedded Derby table into a
  * fresh sink directory per operation. */
final class EtlJdbc extends Workload {
  private val Driver = "org.apache.derby.jdbc.EmbeddedDriver"
  private val Table = "SRC"
  private var lastSink = ""
  private var lastRows = 0L

  def warmupRounds = 3
  def nominalRoundSeconds = 3.0

  // an in-memory database: private to this JVM, gone when it exits
  private val Url = "jdbc:derby:memory:perfbench_src"

  private def cfg(ctx: Ctx, dest: String) = GraftConfig(
    tableName = Table, connectionString = Url, username = "APP",
    password = "app", driver = Driver, destDataset = dest,
    timestampColumn = "TS", startTime = ctx.long("start_time"),
    chunkSize = ctx.long("chunk_size"))

  /** Loads the generated table into Derby once per run: DDL with unquoted
    * (upper-case) names, then batched inserts from every task slot. Spark's
    * own JDBC writer is not used: it binds NULL strings with its Derby
    * dialect's CLOB type, which Derby refuses for a VARCHAR column. */
  override def load(ctx: Ctx): Unit = {
    Class.forName(Driver)
    val conn = java.sql.DriverManager.getConnection(Url + ";create=true")
    try {
      val st = conn.createStatement()
      st.execute(
        s"""CREATE TABLE $Table (ID BIGINT NOT NULL PRIMARY KEY,
           |TS BIGINT NOT NULL, S_NV VARCHAR(64), S_V VARCHAR(16), LOB CLOB,
           |I_S SMALLINT, I_I INTEGER, I_B BIGINT, D_DEC DECIMAL(18,4),
           |D_DBL DOUBLE, D_REAL REAL, B BOOLEAN, DT DATE)""".stripMargin)
      st.close()
    } finally conn.close()
    import java.sql.Types._
    val types = Array(BIGINT, BIGINT, VARCHAR, VARCHAR, CLOB, SMALLINT,
      INTEGER, BIGINT, DECIMAL, DOUBLE, REAL, BOOLEAN, DATE)
    val target = Url
    val insert = s"INSERT INTO $Table VALUES (${Seq.fill(types.length)("?").mkString(",")})"
    ctx.spark.read.parquet(s"${ctx.inputs}/etl/src.parquet").rdd
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val c = java.sql.DriverManager.getConnection(target)
        try {
          c.setAutoCommit(false)
          val ps = c.prepareStatement(insert)
          var n = 0
          rows.foreach { r =>
            types.indices.foreach { i =>
              if (r.isNullAt(i)) ps.setNull(i + 1, types(i))
              else ps.setObject(i + 1, r.get(i).asInstanceOf[AnyRef])
            }
            ps.addBatch()
            n += 1
            if (n % 2000 == 0) ps.executeBatch()
          }
          ps.executeBatch()
          c.commit()
          ps.close()
        } finally c.close()
      }
  }

  def ops(ctx: Ctx): Seq[String] = Seq("etl")

  /** One operation: introspect the catalog, then run the whole job. */
  private def runOnce(ctx: Ctx, dest: String): Long = {
    val c = cfg(ctx, dest)
    ctx.tracer.span("sources.catalog") {
      JdbcPartitionedSource.introspectJdbc(c, HanaTypes.RefCompatible,
        RefLoopDb.DerbyCatalogSql, normalize = true)
    }
    ctx.tracer.span("execute") { GraftCli.runJdbc(ctx.spark, c) }
  }

  def op(ctx: Ctx, name: String, index: Int): Long = {
    val dest = s"${ctx.runDir}/sink/op$index"
    val n = runOnce(ctx, dest)
    if (lastSink.nonEmpty) deleteTree(new File(lastSink))
    lastSink = dest
    lastRows = n
    n
  }

  def finish(ctx: Ctx): Unit = {
    val c = cfg(ctx, lastSink)
    val ivs = Chunking.boundedScanIntervals(tsOnly(ctx, c), c, tieBreak = Nil)
    // the scan pass is the append job: JDBC records its tasks read
    val w = ctx.lastWindow
    val appendJobs = w.jobs.filter(_.site.contains("AppendSink")).map(_.id).toSet
    val scanRecords = w.tasks.filter(t => t.jdbc && appendJobs(t.jobId))
      .map(_.recordsRead).sum
    val out = Map(
      "sink" -> lastSink,
      "rows_appended" -> lastRows,
      "scan_records" -> scanRecords,
      "start_time" -> c.startTime,
      "sentinel" -> c.effectiveEnd,
      "intervals" -> ivs.map { case (lo, hi) => Seq(lo, hi) })
    TextFile.write(s"${ctx.out}/etl.json", Json.render(out))
  }

  private def tsOnly(ctx: Ctx, c: GraftConfig) =
    ctx.spark.read.jdbc(c.connectionString, c.tableName,
        JdbcPartitionedSource.connectionProperties(c))
      .select(col(c.timestampColumn).cast("long").as(c.timestampColumn))

  def layers(ctx: Ctx): Map[String, Double] = {
    import ctx.timed
    val dest = s"${ctx.runDir}/sink/layers"
    val c = cfg(ctx, dest)
    val (_, catSpan, _, _) = timed("sources.catalog") {
      JdbcPartitionedSource.introspectJdbc(c, HanaTypes.RefCompatible,
        RefLoopDb.DerbyCatalogSql, normalize = true)
    }
    val (ivs, planSpan, planJobs, _) = timed("operators.chunk_plan") {
      Chunking.boundedScanIntervals(tsOnly(ctx, c), c, tieBreak = Nil)
    }
    val (_, scanSpan, _, scanTasks) = timed("sources.scan") {
      JdbcPartitionedSource.read(ctx.spark, c, ivs)
        .write.format("noop").mode(SaveMode.Overwrite).save()
    }
    val scanDurations = scanTasks.map(x => (x.finishMs - x.launchMs).toDouble)
    val skew = {
      val med = Main.median(scanDurations)
      if (med <= 0) 0.0 else scanDurations.max / med
    }
    val scanned = JdbcPartitionedSource.read(ctx.spark, c, ivs).cache()
    scanned.count()
    val cols = scanned.columns.toIndexedSeq
    val (_, strSpan, _, _) = timed("operators.stringify") {
      RowOps.dropNullLiterals(RowOps.stringifyAll(scanned), cols)
        .write.format("noop").mode(SaveMode.Overwrite).save()
    }
    val projected =
      RowOps.dropNullLiterals(RowOps.stringifyAll(scanned), cols).cache()
    val rows = projected.count()
    val (_, appendSpan, _, _) = timed("sinks.append") {
      AppendSink.append(projected, dest)
    }
    projected.unpersist(true)
    scanned.unpersist(true)
    val parts = Option(new File(dest).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-"))
    val bytes = parts.map(_.length()).sum.toDouble
    deleteTree(new File(dest))

    // JDBC records read across every pass of one full operation
    val full = timed("layers.full_op") { runOnce(ctx, s"$dest-full") }
    deleteTree(new File(s"$dest-full"))
    val jdbcRecords = full._4.filter(_.jdbc).map(_.recordsRead).sum.toDouble

    Map(
      "sources.catalog_s" -> catSpan.seconds,
      "sources.scan_s" -> scanSpan.seconds,
      "sources.scan_partitions" -> ivs.size.toDouble,
      "sources.scan_task_skew" -> skew,
      "sources.source_rows_read_per_row" ->
        (if (full._1 > 0) jdbcRecords / full._1 else 0.0),
      "operators.chunk_plan_s" -> planSpan.seconds,
      "operators.chunk_plan_jobs" -> planJobs.size.toDouble,
      "operators.stringify_s" -> strSpan.seconds,
      "sinks.append_s" -> appendSpan.seconds,
      "sinks.files_written" -> parts.length.toDouble,
      "sinks.bytes_written" -> bytes,
      "sinks.bytes_per_row" -> (if (rows > 0) bytes / rows else 0.0))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
