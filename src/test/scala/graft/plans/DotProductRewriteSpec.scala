package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.GraftExtensions
import graft.operators.Similarity
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.dot_product

/** `dot_product` against the interpreted `aggregate(zip_with(…))` fold
  * (`Similarity.dot`): bit-identical values, the full null algebra on the
  * interpreted and the codegen path, and the lanes that call it. */
class DotProductRewriteSpec extends KernelParity {

  private def dotHof(a: Column, b: Column): Column = Similarity.dot(a, b)

  test("rewritten result is bit-identical to the sequential widen-first fold (codegen path)") {
    val rows = embeddings.limit(16)
      .select(col("embedding"),
        dot_product(col("embedding"), col("embedding")).as("nat"),
        dotHof(col("embedding"), col("embedding")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      var acc = 0.0
      r.getSeq[Float](0).foreach { x => acc += x.toDouble * x.toDouble }
      assert(same(r.getDouble(1), acc), s"native ${r.getDouble(1)} != fold $acc")
      assert(same(r.getDouble(2), acc), s"hof ${r.getDouble(2)} != fold $acc")
    }
  }

  test("null algebra matches zip_with/aggregate: unequal lengths, null element, null array, empty") {
    import spark.implicits._
    val empty = Seq(("empty", Some(Seq.empty[Option[Float]]), Some(Seq.empty[Option[Float]])))
      .toDF("tag", "a", "b")
    val out = parity(floatPairs.union(empty),
      dot_product(col("a"), col("b")), dotHof(col("a"), col("b")))
    assert(out("len_mismatch") == null)
    assert(out("null_elem") == null)
    assert(out("null_array") == null)
    assert(same(out("empty"), 0.0))
    assert(same(out("neg_zero"), 0.0))
    assert(out("nan").asInstanceOf[Double].isNaN)
    assert(out("plain") == 23.0)
  }

  test("null algebra holds on the CODEGEN path (repartition barrier defeats constant folding)") {
    import spark.implicits._
    // Literal frames fold via interpreted eval (ConvertToLocalRelation) — a
    // repartition barrier forces the projection into whole-stage codegen, so
    // this exercises doGenCode's isNull branches for BOTH expressions.
    val df = Seq(
      ("len_mismatch", Some(Seq(Some(1.0f), Some(2.0f))), Some(Seq(Some(1.0f)))),
      ("null_elem", Some(Seq(Some(1.0f), None)), Some(Seq(Some(1.0f), Some(2.0f)))),
      ("plain", Some(Seq(Some(2.0f), Some(3.0f))), Some(Seq(Some(4.0f), Some(5.0f)))))
      .toDF("tag", "a", "b").repartition(2)
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = df.select(col("tag"),
          dot_product(col("a"), col("b")).as("d"),
          VectorFunctions.cosine_similarity(col("a"), col("b")).as("c"))
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(1)) null else r.getDouble(1),
           if (r.isNullAt(2)) null else r.getDouble(2))).toMap
      assert(out("len_mismatch") == ((null, null)))
      assert(out("null_elem") == ((null, null)))
      assert(out("plain")._1 == 23.0)
      assert(out("plain")._2 == 23.0 / (math.sqrt(13.0) * math.sqrt(41.0)))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("dot_product SQL function registers and runs inside whole-stage codegen") {
    GraftExtensions.registerAll(spark)
    embeddings.createOrReplaceTempView("dp_emb")
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.sql(
        "SELECT vec_id, dot_product(embedding, embedding) AS d FROM dp_emb")
      val row = df.orderBy("vec_id").limit(1).collect()(0)
      assert(row.getDouble(1) > 0.0) // self-dot of a non-zero vector
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val hot = plan.linesIterator.filter(_.contains("dot_product")).toList
      assert(hot.nonEmpty && hot.forall(_.contains("*(")),
        s"dot_product not in a codegen span:\n$plan")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None    => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("lanes built on the HOF shape get the native expression end-to-end") {
    // randomProject (q_vec_project) and the LSH bucketKey call dot_product
    for (lane <- Seq("q_vec_project", "q_sim_topk_lsh"))
      assertLaneNative(lane, "dot_product")
  }
}
