package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The registry's own contract: one race policy (both racers build, the
  * first to publish wins, the loser's blocks are released), builds that
  * nest inside one state, and a reset scoped to one state name. */
class SharedStateSpec extends SparkSpec {

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }.get

  private def persisted = spark.sparkContext.getPersistentRDDs

  test("two concurrent builds of one key keep one entry and release the " +
    "loser's checkpoint blocks") {
    val name = "spec.race"
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val built = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    // both builds finish before either publishes, so both callers missed
    def build(): DataFrame = {
      val df = SharedState.checkpoint(spark.range(10).toDF("id"))
      built.add(df)
      barrier.await(120, java.util.concurrent.TimeUnit.SECONDS)
      df
    }
    try {
      val results = new Array[DataFrame](2)
      val threads = (0 until 2).map(i => new Thread(() =>
        results(i) = SharedState.getOrBuild(spark, name, "k")(build())))
      threads.foreach(_.start())
      threads.foreach(_.join(180000))
      assert(built.size == 2)
      val winner = results(0)
      assert(winner != null && (results(1) eq winner))
      val loser = built.toArray(Array.empty[DataFrame]).find(_ ne winner).get
      assert(persisted.get(rddId(winner)).map(_.name)
        .contains(SharedState.PinnedRddName))
      assert(!persisted.contains(rddId(loser)))
      // the one kept entry is the winner: a later call hits it
      assert(SharedState.getOrBuild[DataFrame](spark, name, "k")(
        fail("rebuilt a published key")) eq winner)
    } finally SharedState.reset(spark, name)
  }

  test("a build that reads another key of the same state completes from a " +
    "cold registry") {
    val name = "spec.nest"
    try {
      // the curation shape: `clean`'s build reads `kept`
      val outer = SharedState.frame(spark, name, "outer") {
        SharedState.frame(spark, name, "inner")(spark.range(6).toDF("id"))
          .filter("id % 2 = 0")
      }
      assert(outer.count() == 3)
      assert(SharedState.getOrBuild[DataFrame](spark, name, "inner")(
        fail("inner entry was not kept")).count() == 6)
    } finally SharedState.reset(spark, name)
  }

  test("reset drops and unpins only the named state's entries") {
    val names = Seq("pq.raw", "pq.residual", "curation.clean")
    val key = "shared-state-spec"
    try {
      val frames = names.map(n =>
        n -> SharedState.frame(spark, n, key)(spark.range(3).toDF("id"))).toMap
      SharedState.reset(spark, "pq.raw")
      assert(!persisted.contains(rddId(frames("pq.raw"))))
      for (n <- names.tail) {
        assert(persisted.contains(rddId(frames(n))), n)
        assert(SharedState.getOrBuild[DataFrame](spark, n, key)(
          fail(s"$n was dropped by another name's reset")) eq frames(n))
      }
      var rebuilt = false
      SharedState.frame(spark, "pq.raw", key) {
        rebuilt = true; spark.range(3).toDF("id")
      }
      assert(rebuilt)
    } finally names.foreach(SharedState.reset(spark, _))
  }
}
