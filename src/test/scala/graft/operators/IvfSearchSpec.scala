package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{JobTrace, SparkSpec}
import graft.core.Parallelism
import graft.functions.VectorFunctions
import graft.sources.Tables

/** The IVF search path and the shuffle-free Lloyd pass against the forms
  * they replaced, kept here as reference code: the exploded centroid
  * aggregate (`refCentroidsFrom` + `refCollectMatrix`), the windowed
  * probes, and the member join + `distinct` + join back to the
  * embeddings. Results must match bit for bit (`Row` equality compares
  * doubles with `Double.compare`). */
class IvfSearchSpec extends SparkSpec {
  import spark.implicits._

  private def sf01 = new java.io.File(sf).getParent + "/sf0.01"

  // ---- reference forms ----

  private def refCentroidsFrom(emb: DataFrame, listCol: Column): DataFrame =
    emb.select(listCol.as("list"), col("embedding"))
      .select(col("list"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("v", col("v").cast("double"))
      .groupBy("list", "dim")
      .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
            count(lit(1))).as("c"))

  /** (listIds, matrix) of a (list, dim, c) centroid table. */
  private def refCollectMatrix(cents: DataFrame): (Seq[Long], Seq[Seq[Double]]) = {
    val byList = cents.select("list", "dim", "c").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
    (byList.map(_._1), byList.map(_._2.sortBy(_._2).map(_._3).toSeq))
  }

  private def packed(m: (Seq[Long], Seq[Seq[Double]])): (Column, Column) =
    (typedLit(m._2), typedLit(m._1))

  private def refLloyd(emb: DataFrame, nLists: Int, nIters: Int): (Column, Column) = {
    var cents = packed(refCollectMatrix(
      refCentroidsFrom(emb, pmod(col("vec_id"), lit(nLists.toLong)))))
    (1 to nIters).foreach { _ =>
      cents = packed(refCollectMatrix(refCentroidsFrom(emb, IvfIndex.listExpr(cents))))
    }
    cents
  }

  /** (q_id, list, probe_rank) for every list, ranked by a window. */
  private def refRankedProbes(emb: DataFrame, cents: (Column, Column),
                              nQueries: Int): DataFrame = {
    val (matrix, listIds) = cents
    val w = Window.partitionBy("vec_id").orderBy(col("dist2").asc, col("list").asc)
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"),
        posexplode(VectorFunctions.squared_distances(col("embedding"), matrix))
          .as(Seq("pos", "dist2")))
      .withColumn("list", element_at(listIds, col("pos") + 1))
      .withColumn("probe_rank", row_number().over(w))
      .select(col("vec_id").as("q_id"), col("list"), col("probe_rank"))
  }

  private def refCandidates(emb: DataFrame, cents: (Column, Column),
                            probes: DataFrame): DataFrame = {
    val members = emb
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id").as("n_id"), IvfIndex.listExpr(cents).as("list"))
    broadcast(probes).join(members, "list").filter(col("q_id") =!= col("n_id"))
  }

  private def qEmb(emb: DataFrame, nQueries: Int): DataFrame =
    emb.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .filter(col("q_id") < nQueries)

  private def nEmb(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))

  private def refTopK(emb: DataFrame, nQueries: Int, k: Int, nLists: Int,
                      nProbe: Int, nIters: Int): DataFrame = {
    val cents = refLloyd(emb, nLists, nIters)
    val probes = refRankedProbes(emb, cents, nQueries)
      .filter(col("probe_rank") <= nProbe).select("q_id", "list")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    refCandidates(emb, cents, probes)
      .select("q_id", "n_id").distinct()
      .join(broadcast(qEmb(emb, nQueries)), "q_id")
      .join(nEmb(emb), "n_id")
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("q_id", "rk", "n_id", "cos")
      .orderBy("q_id", "rk")
  }

  private def refRecallReport(emb: DataFrame, nQueries: Int, k: Int,
                              nLists: Int, nProbes: Seq[Int]): DataFrame = {
    val cents = refLloyd(emb, nLists, 1)
    val scored = refCandidates(emb, cents, refRankedProbes(emb, cents, nQueries))
      .groupBy("q_id", "n_id").agg(min("probe_rank").as("first_probe"))
      .join(broadcast(qEmb(emb, nQueries)), "q_id")
      .join(nEmb(emb), "n_id")
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
      .select("q_id", "n_id", "first_probe", "cos")
    val pAxis = explode(array(nProbes.map(lit): _*)).as("n_probe")
    val w = Window.partitionBy("n_probe", "q_id")
      .orderBy(col("cos").desc, col("n_id").asc)
    val topk = scored.select(col("*"), pAxis)
      .filter(col("first_probe") <= col("n_probe"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("n_probe", "q_id", "n_id")
    val brute = Similarity.bruteForceTopK(emb, nQueries, k).select("q_id", "n_id")
    val hits = topk.join(broadcast(brute), Seq("q_id", "n_id"), "left_semi")
      .groupBy("n_probe", "q_id").agg(count(lit(1)).as("n_hit"))
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), pAxis)
      .join(broadcast(hits), Seq("n_probe", "q_id"), "left")
      .select(col("n_probe").cast("long").as("n_probe"), col("q_id"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall_at_k"))
      .orderBy("n_probe", "q_id")
  }

  // ---- inputs ----

  private def sfEmb: DataFrame =
    Tables.embeddings(spark, sf01).select("vec_id", "embedding")

  private def vectors(rows: Seq[(Long, Seq[Option[Float]])]): DataFrame =
    rows.toDF("vec_id", "embedding")

  /** Duplicate vectors everywhere: ids r, r + 4, r + 8, ... hold the same
    * multiset of base vectors for every r, so the four seed centroids are
    * identical (every centroid distance ties and breaks by list id), and
    * each base vector occurs six times (equal cosines break by n_id). */
  private def tieCorpus: DataFrame = {
    val rnd = new scala.util.Random(5)
    val base = Seq.fill(10)(Seq.fill(8)(Option((rnd.nextInt(7) - 3).toFloat)))
    vectors((0 until 60).map(i => (i.toLong, base((i / 4) % 10))))
  }

  /** Ten random centres, each copied three times, then jittered copies. */
  private def dupCorpus: DataFrame = {
    val rnd = new scala.util.Random(17)
    val centres = Seq.fill(10)(Seq.fill(16)(rnd.nextGaussian()))
    vectors((0 until 90).map { i =>
      val c = centres(i % 10)
      val v = if (i < 30) c else c.map(_ + 0.3 * rnd.nextGaussian())
      (i.toLong, v.map(x => Option(x.toFloat)))
    })
  }

  private def degenerate: DataFrame = vectors(Seq(
    (1000000L, null), (1000001L, Seq.empty[Option[Float]])))

  private def same(got: DataFrame, want: DataFrame, what: String): Unit = {
    val g = got.collect().toSeq
    val w = want.collect().toSeq
    assert(g.nonEmpty, s"$what: empty")
    assert(g == w, s"$what:\n got  ${g.take(12)}\n want ${w.take(12)}")
  }

  // ---- parity ----

  test("topK equals the window/member-join form on sf0.01 embeddings") {
    for ((nLists, nProbe, nIters) <- Seq((8, 2, 1), (12, 3, 3), (8, 8, 1)))
      same(IvfIndex.topK(sfEmb, 20, 10, nLists, nProbe, nIters),
        refTopK(sfEmb, 20, 10, nLists, nProbe, nIters),
        s"nLists=$nLists nProbe=$nProbe nIters=$nIters")
  }

  test("topK equals the reference on tie-heavy corpora, and with nProbe = nLists") {
    for (nIters <- Seq(0, 1); nProbe <- Seq(1, 2, 4))
      same(IvfIndex.topK(tieCorpus, 8, 7, 4, nProbe, nIters),
        refTopK(tieCorpus, 8, 7, 4, nProbe, nIters),
        s"tie corpus nIters=$nIters nProbe=$nProbe")
    for (nProbe <- Seq(2, 6))
      same(IvfIndex.topK(dupCorpus, 12, 5, 6, nProbe, 2),
        refTopK(dupCorpus, 12, 5, 6, nProbe, 2), s"dup corpus nProbe=$nProbe")
  }

  test("topK and recallReport equal the reference with null and empty embeddings") {
    val dirty = sfEmb.unionByName(degenerate)
    same(IvfIndex.topK(dirty, 8, 5), refTopK(dirty, 8, 5, 8, 2, 1), "topK")
    same(IvfIndex.recallReport(dirty, 8, 5),
      refRecallReport(dirty, 8, 5, 8, Seq(1, 2, 4, 8)), "recallReport")
  }

  test("recallReport equals the reference on sf0.01 and on the duplicated corpus") {
    same(IvfIndex.recallReport(sfEmb, 20, 10, nProbes = Seq(1, 3, 8)),
      refRecallReport(sfEmb, 20, 10, 8, Seq(1, 3, 8)), "sf0.01")
    same(IvfIndex.recallReport(dupCorpus, 12, 5, nLists = 6, nProbes = Seq(2, 1, 9)),
      refRecallReport(dupCorpus, 12, 5, 6, Seq(2, 1, 9)), "dup corpus")
  }

  test("exact means equal the exploded decimal aggregate bit for bit, " +
    "null components included") {
    val rnd = new scala.util.Random(3)
    val withNulls = vectors((0 until 40).map { i =>
      (i.toLong, Seq.tabulate(8) { d =>
        if ((i == 7 && d == 2) || (i == 12 && d == 5)) None
        else Option(rnd.nextGaussian().toFloat)
      })
    }).unionByName(degenerate)
    val cents = refLloyd(sfEmb, 8, 1)
    for ((emb, listCol) <- Seq(
        (withNulls, pmod(col("vec_id"), lit(5L))),
        (sfEmb, pmod(col("vec_id"), lit(8L))),
        (sfEmb, IvfIndex.listExpr(cents)))) {
      val (ids, matrix) = IvfIndex.exactMeans(emb, array(listCol))(0)
      val (wantIds, wantMatrix) = refCollectMatrix(refCentroidsFrom(emb, listCol))
      assert(ids == wantIds)
      def bits(m: Seq[Seq[Double]]) = m.map(_.map(java.lang.Double.doubleToRawLongBits))
      assert(bits(matrix) == bits(wantMatrix))
    }
  }

  test("PQ codebook means equal the (vec_id, s) join form bit for bit") {
    val e = sfEmb
    val codes = (0 until PqIndex.M).map(s => pmod(col("vec_id") + s, lit(PqIndex.K.toLong)))
    val got = IvfIndex.exactMeans(e, array(codes: _*), PqIndex.SubDim)
    val ve = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), expr(s"cast(dim div ${PqIndex.SubDim} as int)").as("s"),
        pmod(col("dim"), lit(PqIndex.SubDim)).cast("int").as("subdim"),
        col("v").cast("double").as("v"))
    val assign = e.select(col("vec_id"),
      posexplode(array(codes: _*)).as(Seq("s", "code")))
    val want = ve.join(assign, Seq("vec_id", "s"))
      .groupBy("s", "code", "subdim")
      .agg((sum(col("v").cast("decimal(28,12)")).cast("double") /
            count(lit(1))).as("c"))
      .collect().map(r => ((r.getInt(0), r.getLong(1), r.getInt(2)), r.getDouble(3)))
      .toMap
    assert(got.keySet == (0 until PqIndex.M).toSet)
    val flat = for {
      (s, (ids, matrix)) <- got.toSeq
      (code, row) <- ids.zip(matrix)
      (c, d) <- row.zipWithIndex
    } yield ((s, code, d), c)
    assert(flat.size == want.size)
    flat.foreach { case (key, c) =>
      assert(java.lang.Double.doubleToRawLongBits(c) ==
        java.lang.Double.doubleToRawLongBits(want(key)), s"$key")
    }
  }

  // ---- job-count guards ----

  test("a full topK call runs at most 10 Spark jobs") {
    val emb = sfEmb
    val (_, trace) = JobTrace.of(spark) {
      IvfIndex.topK(emb, nQueries = 20, k = 10).collect()
    }
    assert(trace.jobs <= 10, s"topK ran ${trace.jobs} jobs")
  }

  test("Lloyd training over a persisted input writes no shuffle") {
    val e = Parallelism.forCompute(sfEmb).persist()
    try {
      e.count()
      val (_, trace) = JobTrace.of(spark)(IvfIndex.trainCoarse(e, 8, 1))
      assert(trace.jobs >= 2, s"seed + one Lloyd step ran ${trace.jobs} jobs")
      assert(trace.shuffleWriteStages == 0,
        s"${trace.shuffleWriteStages} stages wrote shuffle output")
    } finally e.unpersist()
  }
}
