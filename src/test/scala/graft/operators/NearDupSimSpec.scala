package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Tables

class NearDupSimSpec extends SparkSpec {
  import spark.implicits._

  test("nearDupSurvivorsVsHistory drops already-held content, keeps novel batch docs") {
    val held = "the quick brown fox jumps over the lazy dog near the quiet river bank"
    val hist = Seq(
      (1L, held),
      (2L, "an older document describing relational query planner internals"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, held), // exact re-crawl: every band collides, Jaccard 1.0 -> dropped
      (11L, "an entirely novel piece of text about mountain weather patterns"))
      .toDF("doc_id", "text")
    val surv = NearDup.nearDupSurvivorsVsHistory(batch, hist, 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(surv == Set(11L))
  }

  test("minhash LSH finds an obvious near-dup pair and skips unrelated text") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!!"),
      (3L, "completely different content about spark catalyst optimizers")
    ).toDF("doc_id", "text")
    val pairs = NearDup.minhashPairs(df, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("LSH candidates achieve full recall vs exhaustive jaccard join on the fixture") {
    val docs = Tables.documents(spark, sf)
    val exact = NearDup.jaccardJoin(docs, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = NearDup.minhashPairs(docs, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact) // 16 hashes / 4 bands catches >=0.5 jaccard reliably here
  }

  test("jaccardJoin's exact-dup pre-collapse is invisible: equals the brute pair join") {
    // identity groups (docs 1=2, 4=5 — the quadratic nucleus the collapse
    // removes) plus a near-dup and an unrelated doc; result must equal the
    // all-pairs brute force exactly, jaccard values included
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "the a of and to in is"),
      (5L, "the a of and to in is"),
      (6L, "completely different content entirely unrelated words")
    ).toDF("doc_id", "text")
    val got = NearDup.jaccardJoin(docs, 0.5, collapseExact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val defaultPath = NearDup.jaccardJoin(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val sigs = NearDup.signatures(docs).select("doc_id", "sh")
    val ids = sigs.select("doc_id")
    val allPairs = ids.select(col("doc_id").as("a_id"))
      .crossJoin(ids.select(col("doc_id").as("b_id")))
      .filter(col("a_id") < col("b_id"))
    val brute = NearDup.jaccardVerify(allPairs, sigs)
      .filter(col("jaccard") >= 0.5)
      .select("a_id", "b_id", "jaccard").orderBy("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == brute)
    assert(defaultPath == brute)
    // and the identity groups actually expanded
    assert(got.contains((1L, 2L, 1.0)) && got.contains((4L, 5L, 1.0)))
  }

  test("simhash: identical texts get identical fingerprints; fingerprint is 32-bit") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
                 (3L, "omega psi chi")).toDF("doc_id", "text")
    val fps = NearDup.simhash(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
    fps.values.foreach(v => assert(v >= 0L && v < (1L << 32)))
  }

  test("native MinHashSignature/SimHash32 expressions match the HOF formulations") {
    val docs = Tables.documents(spark, sf).limit(50)
    val sh = NearDup.shingles(col("text"))
    val nativeSig = docs.select(col("doc_id"), NearDup.minhashSig(sh).as("sig"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1))
    val hofSig = docs.select(col("doc_id"), NearDup.minhashSigHof(sh).as("sig"))
      .orderBy("doc_id").collect().map(_.getSeq[String](1))
    nativeSig.zip(hofSig).foreach { case (a, b) => assert(a == b) }

    val nativeFp = NearDup.simhash(docs).orderBy("doc_id").collect().map(_.getLong(1))
    val hofFp = NearDup.simhashHof(docs).orderBy("doc_id").collect().map(_.getLong(1))
    assert(nativeFp.toSeq == hofFp.toSeq)
  }

  test("sorted_intersect_count equals the naive filter/contains formulation") {
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("b", "d", "e")),
      (Seq[String](), Seq("x")),
      (Seq("q"), Seq("q"))).toDF("a", "b")
    val got = df.select(graft.functions.VectorFunctions.sorted_intersect_count(
      sort_array(col("a")), sort_array(col("b")))).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(2L, 0L, 1L))
  }

  test("cosine: self-similarity is 1.0, orthogonal is 0.0") {
    val df = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 2.0f)),
                 (3L, Array(3.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, nQueries = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    // query 1 = (1,0): neighbor 3 = (3,0) has cos 1.0; neighbor 2 cos 0.0
    assert(top.contains((1L, 3L, 1.0)))
    assert(top.exists { case (q, n, c) => q == 1L && n == 2L && c == 0.0 })
  }

  test("brute-force top-k returns exactly k neighbors per query, ranked desc") {
    val emb = Tables.embeddings(spark, sf)
    val r = Similarity.bruteForceTopK(emb, nQueries = 4, k = 5).collect()
    assert(r.length == 4 * 5)
    r.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cs = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("vector LSH recovers genuinely close neighbors (planted clusters)") {
    // The parquet fixture's embeddings are near-random: true top-5 neighbors
    // sit at low cosine, where sign-bit LSH has (1 - theta/pi)^bits ~ chance
    // collision probability — no bucketing scheme can find them without
    // scanning (measured ~5% recall; brute force is the right tool there).
    // The operator's promise is recovering neighbors that ARE close, so the
    // recall test plants 64-dim clusters (cos ~ 0.99 within a cluster) and
    // requires LSH to find the clustermates.
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(10)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val vecs = for {
      c <- centers.indices
      j <- 0 until 8
    } yield ((c * 8 + j).toLong,
      centers(c).map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq)
    val emb = vecs.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb, 8, 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, 8, 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"LSH recall@5 on clustered data degraded to $recall")
  }

  test("multiprobe LSH lifts recall on noisy clusters without touching the corpus sketch") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val centers = Array.fill(10)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val vecs = for { c <- centers.indices; j <- 0 until 8 } yield
      ((c * 8 + j).toLong,
        centers(c).map(x => x + 0.45f * rnd.nextGaussian().toFloat).toSeq)
    val emb = vecs.toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb, 8, 5)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    def recall(mp: Int, tables: Int) = Similarity
      .lshTopK(emb, 8, 5, nBits = 8, tables = tables, multiProbe = mp)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      .intersect(brute).size.toDouble / brute.size
    val base = recall(0, 2)
    val probed = recall(1, 2)
    assert(probed >= base, s"multiprobe lowered recall: $base -> $probed")
    assert(probed >= 0.6, s"multiprobe recall too low: $probed (base $base)")
  }

  test("IVF probing every list reproduces brute-force top-k exactly") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb, 4, 5).collect().toSeq
    val full = IvfIndex.topK(emb, 4, 5, nLists = 8, nProbe = 8).collect().toSeq
    assert(full == brute) // recall = 1 when nothing is pruned
  }

  test("IVF fused narrow trainer identical to the exploded-join/windowed-argmin twin") {
    val emb = Tables.embeddings(spark, sf)
    // the round-11 trainer computes the per-step list inline and assigns
    // via listExpr (no join, no window); decimal sums are order-free, so
    // the assignment must match the legacy path exactly — both at one
    // Lloyd iteration and at two (compounding would amplify any drift)
    for (iters <- Seq(1, 2)) {
      val now = IvfIndex.assignments(emb, nLists = 8, nIters = iters)
        .orderBy("vec_id").collect().toSeq
      val old = IvfIndex.assignmentsLegacy(emb, nLists = 8, nIters = iters)
        .orderBy("vec_id").collect().toSeq
      assert(now.nonEmpty && now == old, s"nIters=$iters diverged")
    }
  }

  test("IVF assignment drops null/empty embeddings; null case matches legacy") {
    // intended degenerate-input behavior (round-12 ADVICE fix): training
    // ignores null/empty embeddings in BOTH paths (posexplode emits no
    // rows), and the fused assignment FILTERS them rather than emitting a
    // null `list` row. For a NULL embedding the legacy twin agrees (a null
    // distance array explodes to nothing); an EMPTY embedding would throw
    // in the legacy twin's distance kernel (fail-fast ragged check), so
    // dropping it is the fused path's documented, more useful choice.
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val degenerate = Seq(
      (1000000L, null.asInstanceOf[Seq[Float]]),
      (1000001L, Seq.empty[Float])).toDF("vec_id", "embedding")
    val clean = IvfIndex.assignments(emb, nLists = 8)
      .orderBy("vec_id").collect().toSeq
    val withBad = IvfIndex.assignments(emb.unionByName(degenerate), nLists = 8)
      .orderBy("vec_id").collect().toSeq
    assert(withBad == clean) // degenerates neither assigned nor train
    val nullOnly = emb.unionByName(degenerate.filter(col("embedding").isNull))
    assert(IvfIndex.assignmentsLegacy(nullOnly, nLists = 8)
      .orderBy("vec_id").collect().toSeq == clean)
  }

  test("degenerate embeddings are invisible to EVERY IVF entry point " +
    "(topK, recallReport, assignNewBatch agree with the clean corpus)") {
    // round-12 ADVICE follow-through: assignments() gained the null/empty
    // drop first; the sibling entry points (probeAndAssign inside topK,
    // recallReport, assignNewBatch) were aligned later. Pin the uniform
    // semantics: adding null/empty vectors to the corpus changes NOTHING —
    // they neither train, nor join as members, nor count in balances.
    // Degenerate ids sit ABOVE nQueries so the query side is unchanged.
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val degenerate = Seq(
      (1000000L, null.asInstanceOf[Seq[Float]]),
      (1000001L, Seq.empty[Float])).toDF("vec_id", "embedding")
    val dirty = emb.unionByName(degenerate)
    assert(IvfIndex.topK(dirty, nQueries = 4, k = 3).collect().toSeq ==
      IvfIndex.topK(emb, nQueries = 4, k = 3).collect().toSeq)
    assert(IvfIndex.recallReport(dirty, nQueries = 4, k = 3,
        nProbes = Seq(1, 8)).collect().toSeq ==
      IvfIndex.recallReport(emb, nQueries = 4, k = 3,
        nProbes = Seq(1, 8)).collect().toSeq)
    // assignNewBatch: degenerates in history AND batch drop from counts
    val hist = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    assert(IvfIndex.assignNewBatch(hist.unionByName(degenerate),
        batch.unionByName(degenerate)).collect().toSeq ==
      IvfIndex.assignNewBatch(hist, batch).collect().toSeq)
  }

  test("shared coarse-quantizer memo: warm == fresh across consumers, reset forgets") {
    val emb = Tables.embeddings(spark, sf)
    val fresh = IvfIndex.assignments(emb, nLists = 8)
      .orderBy("vec_id").collect().toSeq
    IvfIndex.warmCoarse(emb, key = "spec-memo")
    // decimal-exact training makes the memoized quantizer bit-identical,
    // so every consumer path reads the same entry and agrees with fresh
    val warm = IvfIndex.assignments(emb, nLists = 8, memoKey = Some("spec-memo"))
      .orderBy("vec_id").collect().toSeq
    assert(warm == fresh)
    assert(IvfIndex.topK(emb, memoKey = Some("spec-memo")).collect().toSeq ==
      IvfIndex.topK(emb).collect().toSeq)
    assert(Similarity.semanticNearDupPairs(emb, 0.4,
        coarseMemoKey = Some("spec-memo")).collect().toSeq ==
      Similarity.semanticNearDupPairs(emb, 0.4).collect().toSeq)
    graft.core.SharedState.reset(spark, "ivf.coarse")
  }

  test("IVF multi-iteration Lloyd is deterministic and partition-invariant") {
    val emb = Tables.embeddings(spark, sf)
    val a = IvfIndex.assignments(emb, nLists = 8, nIters = 2)
      .orderBy("vec_id").collect().toSeq
    // decimal-exact centroids/distances -> identical assignments no matter
    // how the input is partitioned (double-accumulator k-means would drift)
    val b = IvfIndex.assignments(emb.repartition(7), nLists = 8, nIters = 2)
      .orderBy("vec_id").collect().toSeq
    assert(a == b)
    assert(a.size == emb.count())
  }

  test("IVF assignments partition the corpus; probing more lists raises recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val assign = IvfIndex.assignments(emb, nLists = 8)
    assert(assign.count() == n)                       // every vector in exactly one list
    assert(assign.select("list").distinct().count() <= 8)

    def recall(nProbe: Int): Double = {
      val brute = Similarity.bruteForceTopK(emb, 4, 5)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      val ivf = IvfIndex.topK(emb, 4, 5, 8, nProbe)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      ivf.intersect(brute).size.toDouble / brute.size
    }
    val r2 = recall(2)
    val r8 = recall(8)
    assert(r8 == 1.0, s"probing all lists must be exact, got $r8")
    assert(r2 <= r8)
  }

  test("semanticNearDupPairs: complete within cells, exact cosines, id-only candidates") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.semanticNearDupPairs(emb, 0.3)
      .as[(Long, Long, Double)].collect().toSeq
    // every reported pair really clears the threshold and shares a cell
    val assign = IvfIndex.assignments(emb, 8)
      .as[(Long, Long)].collect().toMap
    got.foreach { case (a, b, c) =>
      assert(c >= 0.3 && assign(a) == assign(b), s"($a,$b,$c)")
    }
    // completeness within the blocking: every same-cell pair clearing the
    // threshold under an independent cosine computation is reported
    val pairs = got.map(t => (t._1, t._2)).toSet
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i).toDouble
        ny += y(i).toDouble * y(i).toDouble
        i += 1
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val ids = vecs.keys.toSeq.sorted
    for (a <- ids; b <- ids if a < b && assign(a) == assign(b)
         && cos(vecs(a), vecs(b)) >= 0.3 + 1e-9)
      assert(pairs.contains((a, b)), s"missing same-cell pair ($a,$b)")
    val plan = Similarity.semanticNearDupPairs(emb, 0.3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("semanticNearDupPairs: salted inline-cosine form bit-identical to the rejoin twin") {
    val emb = Tables.embeddings(spark, sf)
    val now = Similarity.semanticNearDupPairs(emb, 0.4).collect().toSeq
    val old = Similarity.semanticNearDupPairsRejoin(emb, 0.4).collect().toSeq
    assert(now.nonEmpty && now.size == old.size, s"${now.size} vs ${old.size}")
    now.zip(old).foreach { case (x, y) =>
      assert(x.getLong(0) == y.getLong(0) && x.getLong(1) == y.getLong(1),
        s"pair mismatch: $x vs $y")
      assert(java.lang.Double.doubleToRawLongBits(x.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(y.getDouble(2)),
        s"cosine bits differ: $x vs $y")
    }
  }

  test("LSH top-k neighbors are a subset of the corpus with valid cosines") {
    val emb = Tables.embeddings(spark, sf)
    val lsh = Similarity.lshTopK(emb, nQueries = 4, k = 5).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      assert(r.getDouble(3) <= 1.0 + 1e-9 && r.getDouble(3) >= -1.0 - 1e-9)
      assert(r.getLong(0) != r.getLong(2))
    }
  }

  test("containment catches a subset-duplicate that Jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val df = Seq(
      (1L, small),                           // pasted verbatim inside doc 2
      (2L, big),
      (3L, "totally unrelated words here")
    ).toDF("doc_id", "text")
    val cont = NearDup.containmentJoin(df, 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(cont == Set((1L, 2L)))
    // the symmetric lane cannot see it: J = |small| / |big| << 0.5
    val jac = NearDup.jaccardJoin(df, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)))
  }

  test("vocabulary: tf/df counts and deterministic tie order") {
    val df = Seq(
      (1L, "spark spark flink"),
      (2L, "spark flink beam")
    ).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(df, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // spark tf=3 df=2; flink tf=2 df=2 (beam tf=1 cut by k=2)
    assert(v.toSeq == Seq((1L, "spark", 3L, 2L), (2L, "flink", 2L, 2L)))
  }

  test("hard negatives: cross-label only, correctly ranked; IVF full-probe equals brute") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.hardNegatives(emb).collect()
    assert(brute.nonEmpty)
    // every mined negative crosses the label boundary
    assert(brute.forall(r =>
      r.getAs[Number]("q_label").longValue != r.getAs[Number]("n_label").longValue))
    // ranks are 1..k per anchor and cosines non-increasing within an anchor
    brute.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == (1L to sorted.length))
      val cs = sorted.map(_.getAs[Double]("cos"))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
    // probing every list makes IVF blocking exhaustive -> identical output
    val full = Similarity.hardNegativesIvf(emb, nProbe = 8, nLists = 8).collect()
    assert(full.map(_.toString).toSeq == brute.map(_.toString).toSeq)
  }

  test("MMR selection: pick 1 is the relevance argmax, picks distinct, diversity binds") {
    val emb = Tables.embeddings(spark, sf)
    val mmr = Similarity.mmrSelect(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val topk = Similarity.bruteForceTopK(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mmrByQ = mmr.groupBy(_._1); val topByQ = topk.groupBy(_._1)
    mmrByQ.foreach { case (q, rows) =>
      val ids = rows.sortBy(_._2).map(_._3)
      assert(ids.distinct.length == ids.length, s"q=$q duplicate picks")
      // greedy step 1 has no diversity term -> equals plain top-1
      assert(ids.head == topByQ(q).minBy(_._2)._3, s"q=$q pick1")
      // every pick comes from the candidate neighborhood (top-20 pool)
      assert(rows.length == 5)
    }
    // with lambda=0.5 on clustered embeddings, at least one anchor's MMR
    // set must diverge from its plain top-5 (that's what diversification
    // is FOR; if every set were identical the operator would be top-k)
    val diverged = mmrByQ.keys.count { q =>
      mmrByQ(q).map(_._3).toSet != topByQ(q).map(_._3).toSet }
    assert(diverged >= 1, "MMR never diverged from plain top-k")
  }

  test("IVF recall report: monotone in probe depth, exactly 1.0 at full probe") {
    val emb = Tables.embeddings(spark, sf)
    val rep = IvfIndex.recallReport(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byQ = rep.groupBy(_._2)
    byQ.foreach { case (q, rows) =>
      val ordered = rows.sortBy(_._1).map(_._3)
      // more probes can only add candidates -> recall never decreases
      assert(ordered.zip(ordered.tail).forall { case (a, b) => a <= b }, s"q=$q $ordered")
    }
    // probing all 8 of 8 lists IS brute force
    assert(rep.filter(_._1 == 8L).forall(_._3 == 1.0))
    assert(rep.length == 4 * 8) // nProbes x nQueries
  }

  test("auto-tuned banding: no false positives, recall vs brute force at two SFs") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables.documents(spark, dir)
      val tuned = NearDup.autoTuneBanding(docs, 0.5)
      assert(tuned.numBands >= 1 && tuned.rowsPerBand >= 1 &&
        tuned.numHashes <= 128, s"$dir pick $tuned")
      val auto = NearDup
        .minhashPairs(docs, 0.5, 3, tuned.numHashes, tuned.numBands)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val sigs = NearDup.signatures(docs).select("doc_id", "sh").localCheckpoint(false)
      val brute = NearDup.jaccardVerify(
          sigs.select(col("doc_id").as("a_id")).crossJoin(
            sigs.select(col("doc_id").as("b_id")))
            .filter(col("a_id") < col("b_id")),
          sigs)
        .filter(col("jaccard") >= 0.5)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(brute.nonEmpty, s"$dir fixture plants qualifying pairs")
      // exact verification makes false positives impossible...
      assert(auto.subsetOf(brute), s"$dir emitted non-qualifying pairs")
      // ...so the tuner's only quality axis is recall: the S-curve solve
      // targets 0.9 AT the threshold; planted pairs sit above it
      val recall = auto.intersect(brute).size.toDouble / brute.size
      info(s"$dir: pick $tuned, recall $recall (${auto.size}/${brute.size})")
      assert(recall >= 0.75, s"$dir recall $recall")
    }
  }

  test("candidate-budget guard fails fast on a boilerplate-heavy corpus") {
    // half the corpus is ONE identical boilerplate text: every trigram is
    // hot AND fills each member's prefix, the sf1 probe's measured
    // quadratic nucleus in miniature
    val docs = ((1 to 30).map(i =>
        (i.toLong, "alpha beta gamma delta epsilon zeta")) ++
      (31 to 60).map(i =>
        (i.toLong, s"unique$i standalone$i content$i about$i topic$i")))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalStateException](
      NearDup.jaccardJoin(docs, 0.5, candidateBudget = Some(100L)).collect())
    assert(ex.getMessage.contains("candidate budget exceeded"))
    assert(ex.getMessage.contains("minhashPairs"))
    // an adequate budget runs through and matches the unguarded result
    val guarded = NearDup.jaccardJoin(docs, 0.5, candidateBudget = Some(1000000L))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    val unguarded = NearDup.jaccardJoin(docs, 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    assert(guarded == unguarded && guarded.nonEmpty)
  }

  test("binary ANN with an unbounded rerank funnel equals brute force") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    val brute = Similarity.bruteForceTopK(emb, 4, 5)
      .select("q_id", "rk", "n_id").collect().toSeq
    val full = Similarity.binaryTopK(emb, 4, 5, rerank = n)
      .select("q_id", "rk", "n_id").collect().toSeq
    assert(full == brute) // nothing pruned -> exact
    // the production funnel returns k ranked rows per query, hamming sane
    val funneled = Similarity.binaryTopK(emb, 4, 5, rerank = 20).collect()
    assert(funneled.length == 20)
    assert(funneled.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 64))
  }

  test("MRL prefix funnel equals brute force when nothing is pruned") {
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    val brute = Similarity.bruteForceTopK(emb, 4, 5)
      .select("q_id", "rk", "n_id").collect().toSeq
    val full = Similarity.mrlTopK(emb, 4, 5, prefixDims = 8, rerank = n)
      .select("q_id", "rk", "n_id").collect().toSeq
    assert(full == brute)
    // prefix ranking carries signal well above chance — this fixture has no
    // planted neighbor structure (the repo-wide LSH-recall caveat), so the
    // floor is above-random, not high-recall: chance overlap of a 20-of-499
    // funnel with the true top-5 is ~0.2 hits/query (~0.8 of 20 total)
    val funneled = Similarity.mrlTopK(emb, 4, 5, prefixDims = 8, rerank = 20)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteSet = brute.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(funneled.intersect(bruteSet).size >= 3,
      s"prefix recall ${funneled.intersect(bruteSet).size}/${bruteSet.size}")
  }

  test("RRF fusion: both-system hits outrank single-system at equal ranks") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.rrfFusion(docs, emb, nQueries = 4, k = 5).collect()
    assert(out.length == 20)
    // every rrf matches its ranks by the exact formula
    out.foreach { r =>
      val t = if (r.isNullAt(3)) 0.0 else 1.0 / (60.0 + r.getLong(3))
      val v = if (r.isNullAt(4)) 0.0 else 1.0 / (60.0 + r.getLong(4))
      assert(r.getDouble(5) == t + v)
    }
    // a doc present in both depth-20 lists beats one present in only one
    // list at any rank (1/61+1/80 > 1/61 max single): check ordering holds
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      val rrfs = sorted.map(_.getDouble(5))
      assert(rrfs.zip(rrfs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("maxSim: self-pair scores nSub exactly; rerank output is valid and bounded") {
    val emb = Tables.embeddings(spark, sf)
    // a duplicate of query 0 under a fresh id: every sub-vector matches
    // itself, so MaxSim = nSub exactly and the dup must rank first
    val dup = emb.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(90001L))
    val out = Similarity.maxSimTopK(emb.unionByName(dup), nQueries = 1, k = 5)
      .collect()
    assert(out.length == 5)
    val top = out.head
    assert(top.getAs[Long]("n_id") == 90001L)
    assert(math.abs(top.getAs[Double]("maxsim") - 4.0) < 1e-9)
    // MaxSim >= pooled cosine is NOT guaranteed, but both must be bounded
    assert(out.forall { r =>
      val m = r.getAs[Double]("maxsim"); m >= -4.0 && m <= 4.0 + 1e-9 })
    // ranks strictly ordered by maxsim desc
    val ms = out.map(_.getAs[Double]("maxsim")).toSeq
    assert(ms.zip(ms.tail).forall { case (a, b) => a >= b })
  }

  test("maxSim funnel: pooled recall stage only reorders within candidates, never invents") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.maxSimTopK(emb, nQueries = 4, k = 5, rerank = 20)
    val cand = Similarity.bruteForceTopK(emb, nQueries = 4, k = 20)
    val candSet = cand.collect().map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    assert(out.collect().forall(r =>
      candSet((r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))))
  }
}
