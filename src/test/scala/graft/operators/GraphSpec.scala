package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("shared co-purchase edge CTE: memoized frame identical to the direct derivation") {
    graft.core.SharedState.reset(spark, "graph.edges")
    val memo = graft.SparkEntry.coPurchaseEdges(spark, sf)
      .orderBy("item_a", "item_b").collect().toSeq
    val direct = Graph.coOccurrenceEdges(
        graft.sources.Tables.lineitem(spark, sf)
          .select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey")
      .orderBy("item_a", "item_b").collect().toSeq
    assert(memo.nonEmpty && memo == direct)
    // a second call is a memo hit — the same checkpointed frame object
    assert(graft.SparkEntry.coPurchaseEdges(spark, sf) eq
      graft.SparkEntry.coPurchaseEdges(spark, sf))
    graft.core.SharedState.reset(spark, "graph.edges")
  }

  test("shared CF co-occurrence memo: warm == fresh for both consumers, reset forgets") {
    val b = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey")
      .join(graft.sources.Tables.lineitem(spark, sf)
          .select("l_orderkey", "l_suppkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
    graft.core.SharedState.reset(spark, "cf.co_state")
    val simFresh = Graph.itemSimilarity(b, "cust", "supp").collect().toSeq
    val recFresh = Graph.recommendations(b, "cust", "supp").collect().toSeq
    Graph.warmCoState(b, key = "spec-cf", basketCol = "cust", itemCol = "supp")
    // the memoized model is the same deterministic pair/count state, so
    // both consumers must match fresh builds row for row, doubles included
    assert(Graph.itemSimilarity(b, "cust", "supp", memoKey = Some("spec-cf"))
      .collect().toSeq == simFresh)
    assert(Graph.recommendations(b, "cust", "supp", memoKey = Some("spec-cf"))
      .collect().toSeq == recFresh)
    assert(simFresh.nonEmpty && recFresh.nonEmpty)
    graft.core.SharedState.reset(spark, "cf.co_state")
  }

  test("marketBasket: counts, confidence, and lift match hand computation") {
    // 4 baskets; items 1,2 co-occur in 3 of them, item 3 rides along once;
    // duplicate (basket, item) rows must collapse before counting
    val rows = Seq(
      (10L, 1L), (10L, 2L), (10L, 2L), // dup row
      (20L, 1L), (20L, 2L), (20L, 3L),
      (30L, 1L), (30L, 2L),
      (40L, 1L), (40L, 3L))
    val df = rows.toDF("basket", "item")
    val out = Graph.marketBasket(df, "basket", "item",
      minItemSupport = 2, minPairSupport = 2, topN = 10).collect()
    // item supports: 1->4, 2->3, 3->2; pairs >= 2: (1,2)x3, (1,3)x2
    val m = out.map(r => ((r.getLong(0), r.getLong(1)), r)).toMap
    assert(m.keySet === Set((1L, 2L), (1L, 3L)))
    val p12 = m((1L, 2L))
    assert(p12.getAs[Long]("pair_cnt") === 3L)
    assert(p12.getAs[Long]("cnt_a") === 4L)
    assert(p12.getAs[Long]("cnt_b") === 3L)
    assert(p12.getAs[Long]("n_baskets") === 4L)
    assert(p12.getAs[Double]("confidence") === 3.0 / 4.0)
    assert(p12.getAs[Double]("lift") === (3.0 * 4.0) / (4.0 * 3.0))
    val p13 = m((1L, 3L))
    assert(p13.getAs[Double]("lift") === (2.0 * 4.0) / (4.0 * 2.0))
  }

  test("marketBasket: infrequent items never reach pair expansion") {
    val df = Seq((1L, 1L), (1L, 9L), (2L, 1L), (2L, 9L), (3L, 1L))
      .toDF("basket", "item")
    // item 9 has support 2 < 3 -> pruned, so no pair survives even though
    // (1,9) co-occurs twice
    val out = Graph.marketBasket(df, "basket", "item",
      minItemSupport = 3, minPairSupport = 2, topN = 10)
    assert(out.count() === 0L)
  }

  test("pageRank: regular graph yields equal ranks; star concentrates mass on the hub") {
    // triangle (3-regular after symmetrization): all nodes identical
    val tri = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("s", "d")
    val triRanks = Graph.pageRank(tri, "s", "d", iters = 3, topN = 10)
      .select("rank_units").as[Long].collect().toSet
    assert(triRanks.size === 1, "regular graph must rank all nodes equally")

    // star: hub h linked to 4 leaves — hub must outrank every leaf
    val star = Seq(("h", "l1"), ("h", "l2"), ("h", "l3"), ("h", "l4"))
      .toDF("s", "d")
    val r = Graph.pageRank(star, "s", "d", iters = 3, topN = 10).collect()
    assert(r.head.getString(0) === "h")
    val hub = r.head.getLong(1)
    assert(r.tail.forall(_.getLong(1) < hub))
    // leaves are symmetric: identical ranks
    assert(r.tail.map(_.getLong(1)).toSet.size === 1)
  }

  test("pageRank: integer arithmetic is exact — rerun is bit-identical") {
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")).toDF("s", "d")
    val x = Graph.pageRank(e, "s", "d").collect().toSeq
    val y = Graph.pageRank(e, "s", "d").collect().toSeq
    assert(x === y)
  }

  test("triangleStats: K4 has 4 triangles; duplicate/reversed edges collapse") {
    // complete graph on 4 nodes = C(4,3) = 4 triangles, 6 edges,
    // wedges = 4 * C(3,2) = 12; feed duplicates + reversed copies
    val k4 = (for {
      a <- 1L to 4L; b <- 1L to 4L if a != b
    } yield (a, b)) ++ Seq((1L, 2L), (1L, 2L))
    val r = Graph.triangleStats(k4.toDF("x", "y"), "x", "y").collect().head
    assert(r.getAs[Long]("n_nodes") === 4L)
    assert(r.getAs[Long]("n_edges") === 6L)
    assert(r.getAs[Long]("n_wedges") === 12L)
    assert(r.getAs[Long]("n_triangles") === 4L)
    assert(r.getAs[Double]("clustering_coeff") === 1.0) // complete graph
  }

  test("triangleStats: a path graph has wedges but zero triangles") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    val r = Graph.triangleStats(path, "x", "y").collect().head
    assert(r.getAs[Long]("n_triangles") === 0L)
    assert(r.getAs[Long]("n_wedges") === 2L)
    assert(r.getAs[Double]("clustering_coeff") === 0.0)
  }

  test("labelPropagation: two cliques joined by one bridge edge settle into two communities") {
    // cliques {1,2,3} and {10,11,12}, bridge 3-10: interior majorities hold
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("x", "y")
    val got = Graph.labelPropagation(e, "x", "y", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique agrees internally on one community label
    assert(Set(got(1L), got(2L)).size === 1)
    assert(Set(got(11L), got(12L)).size === 1)
    assert(got(1L) !== got(11L), got.toString)
  }

  test("labelPropagation is deterministic under ties: smallest label wins") {
    // node 5 has exactly one neighbor in each clique -> 1-1 vote tie every
    // sweep; the tie must resolve to the smaller label, identically on rerun
    val e = Seq((1L, 2L), (3L, 4L), (2L, 5L), (3L, 5L)).toDF("x", "y")
    val a = Graph.labelPropagation(e, "x", "y").collect().toSeq
    val b = Graph.labelPropagation(e, "x", "y").collect().toSeq
    assert(a === b)
  }

  test("itemSimilarity: cosine and jaccard match hand computation") {
    // item 1 in baskets {A,B,C}, item 2 in {A,B}, co = 2
    val b = Seq(("A", 1L), ("B", 1L), ("C", 1L), ("A", 2L), ("B", 2L))
      .toDF("basket", "item")
    val r = Graph.itemSimilarity(b, "basket", "item", minCo = 2).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("co_cnt") === 2L)
    assert(row.getAs[Double]("cosine") === 2.0 / math.sqrt(3.0 * 2.0))
    assert(row.getAs[Double]("jaccard") === 2.0 / 3.0)
  }
}
