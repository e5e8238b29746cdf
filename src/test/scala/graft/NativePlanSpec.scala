package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions.{col, md5}

/** One path per kernel: graft's operators build its native expressions
  * directly, so a query plans the same on a session that registered nothing
  * — here a fresh `newSession()`, which shares no session state with the
  * suites that ran before it. The batch lanes are checked the same way,
  * each beside its kernel's parity cases in `graft.plans`. */
class NativePlanSpec extends SparkSpec {

  test("fresh session: the streaming band-key queries plan band_keys on both join sides") {
    val fresh = spark.newSession()
    implicit val sqlCtx = fresh.sqlContext
    import fresh.implicits._
    val historySigs = operators.NearDup.signatures(
      sources.Tables.documents(fresh, sf).limit(20)).select("doc_id", "sh", "sig")
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = stream.toDF().toDF("doc_id", "text", "ts")
    val queries = Seq(
      "nearDupHitsVsHistory" ->
        streaming.StreamingOps.nearDupHitsVsHistory(docs, historySigs),
      "admitStream" -> streaming.StreamingOps.admitStream(docs,
        historySigs.select(md5(col("doc_id").cast("string")).as("fp")), historySigs))
    stream.addData((1L, "a near duplicate probe", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    for ((name, df) <- queries) {
      val q = df.writeStream.outputMode("append").format("memory")
        .queryName(s"native_plan_$name").start()
      val plan = try {
        q.processAllAvailable()
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.optimizedPlan.toString
      } finally q.stop()
      // both sides of the band join: the stream's and the history's
      assert("band_keys".r.findAllIn(plan).size >= 2,
        s"$name plan shows no band_keys on both join sides:\n${plan.take(3000)}")
    }
  }

  test("registerAll registers SQL functions and leaves extraOptimizations unchanged") {
    val fresh: SparkSession = spark.newSession()
    val before = fresh.experimental.extraOptimizations
    GraftExtensions.registerAll(fresh)
    assert(fresh.experimental.extraOptimizations == before)
    assert(fresh.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
  }
}
