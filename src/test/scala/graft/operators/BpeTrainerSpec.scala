package graft.operators

import graft.SparkSpec

class BpeTrainerSpec extends SparkSpec {
  import spark.implicits._

  test("merges are leftmost non-overlapping with deterministic tie-breaks") {
    // "a a a b": step 1 fuses the leftmost (a,a) run pair-wise -> "(a a)(a)(b)"
    // step 2: ("a a","a") and ("a","b") tie at 1 -> left-text order picks (a,b)
    // step 3: the fused units pair up
    val df = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val r = BpeTrainer.merges(df, steps = 3)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(r == Seq(
      (1L, "a", "a", 2L),
      (2L, "a", "b", 1L),
      (3L, "a a", "a b", 1L)))
  }

  test("shared train state: memoized forms identical to the direct forms, " +
    "second read is a memo hit, reset forces a rebuild") {
    val docs = graft.sources.Tables.documents(spark, sf)
    graft.core.SharedState.reset(spark, "bpe.train")
    val m1 = BpeTrainer.mergesShared(docs, key = sf).collect().toSeq
    assert(m1 == BpeTrainer.merges(docs).collect().toSeq)
    val t1 = BpeTrainer.tokenizedShared(docs, key = sf).collect().toSeq
    assert(t1 == BpeTrainer.tokenized(docs).collect().toSeq)
    // second read must come from the same memoized state (cheap, identical)
    assert(BpeTrainer.mergesShared(docs, key = sf).collect().toSeq == m1)
    graft.core.SharedState.reset(spark, "bpe.train")
    assert(BpeTrainer.tokenizedShared(docs, key = sf).collect().toSeq == t1)
    graft.core.SharedState.reset(spark, "bpe.train")
  }

  test("training stops emitting steps once no pairs remain") {
    val df = Seq((1L, "x y")).toDF("doc_id", "text")
    val r = BpeTrainer.merges(df, steps = 4)
      .as[(Long, String, String, Long)].collect().toSeq
    // one merge exhausts the doc into a single unit; steps 2..4 emit nothing
    assert(r == Seq((1L, "x", "y", 1L)))
  }

  test("merge frequencies aggregate across documents") {
    val df = Seq((1L, "c d"), (2L, "c d"), (3L, "c e")).toDF("doc_id", "text")
    val r = BpeTrainer.merges(df, steps = 1)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(r == Seq((1L, "c", "d", 2L)))
  }

  test("tokenized applies the learned merges: counts shrink to the fused units") {
    // "a a a b": step1 -> "(a a)(a)(b)", step2 -> "(a a)(a b)",
    // step3 -> "(a a a b)" — 4 base tokens end as 1 BPE token
    val df = Seq((1L, "a a a b"), (2L, "x")).toDF("doc_id", "text")
    val r = BpeTrainer.tokenized(df, steps = 3)
      .as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 4L, 1L), (2L, 1L, 1L)))
  }

  test("long merge chain under reliable checkpoints: cascade converges and " +
       "the context checkpoint dir is restored") {
    // frequency staircase: "a b" is everywhere, "a b c" in 14 docs, ... so
    // merges cascade left-to-right one token per step — a 12-deep chain of
    // sequentially dependent steps, each materialized through a reliable
    // filesystem checkpoint
    val toks = ('a' to 'm').map(_.toString) // a..m = 13 tokens, 12 merges
    val docs = (1 to 15).map { i =>
      val depth = math.min(i, toks.size)
      (i.toLong, toks.take(math.max(depth, 2)).mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("bpe-ckpt").toString
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    val r = BpeTrainer.merges(docs.toDF("doc_id", "text"), steps = 12,
        checkpointDir = Some(dir))
      .as[(Long, String, String, Long)].collect().toSeq
    assert(sc.getCheckpointDir == before, "checkpoint dir must be restored")
    assert(r.size == 12)
    // step k fuses the growing prefix with the next token: counts descend
    // with the staircase (prefix of length k+1 appears in 15-k docs ... edge
    // cases: "a b" in all 15 since min doc has 2 tokens)
    assert(r.head == (1L, "a", "b", 15L))
    (2 to 12).foreach { k =>
      val (step, l, right, c) = r(k - 1)
      assert(step == k.toLong)
      assert(l == toks.take(k).mkString(" "))
      assert(right == toks(k))
      assert(c == (15 - k).toLong, s"step $k count")
    }
    // reliable checkpoint files actually landed in the scoped run dir
    val sub = new java.io.File(dir).listFiles()
    assert(sub != null && sub.exists(_.getName.startsWith("graft-bpe-")))
  }
}
