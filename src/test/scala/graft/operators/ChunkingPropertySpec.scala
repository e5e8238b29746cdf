package graft.operators

import scala.util.Random
import graft.SparkSpec
import graft.core.{GlobalRank, GraftConfig, HanaTypes}

/** Property-style tests (SURVEY.md §5.3): the chunk-plan invariants of the
  * reference's algorithm (`HanaToBQ.java:150-172`) must hold for arbitrary
  * timestamp multisets, chunk sizes, and start offsets. Seeded randomization
  * keeps runs deterministic. */
class ChunkingPropertySpec extends SparkSpec {

  private val rnd = new Random(42)
  private def cases(n: Int): Seq[(List[Long], Long, Long)] =
    (1 to n).map { _ =>
      val ts = List.fill(120)(rnd.nextLong(5001L))
      (ts, 1L + rnd.nextLong(40L), rnd.nextLong(2501L))
    }

  test("intervals always partition [start, sentinel): seeded, contiguous, sentinel-closed") {
    import spark.implicits._
    cases(8).foreach { case (ts, chunk, start) =>
      val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("ts", "id")
      val b = Chunking.boundaries(df, "ts", Seq("id"), chunk, start)
      val iv = Chunking.intervals(b, "ts", start)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      assert(iv.head._2 == start)
      assert(iv.last._3 == GraftConfig.Sentinel)
      iv.foreach { case (_, lo, hi) => assert(lo < hi) }
      iv.sliding(2).foreach {
        case List((_, _, h1), (_, l2, _)) => assert(h1 == l2)
        case _ => ()
      }
      // every filtered row falls in exactly one half-open interval
      val kept = ts.filter(_ > start)
      val assigned = kept.map(t => iv.count { case (_, lo, hi) => t >= lo && t < hi })
      assert(assigned.forall(_ == 1))
    }
  }

  test("boundary count == floor(filtered rows / chunkSize) for any input") {
    import spark.implicits._
    cases(6).foreach { case (ts, chunk, start) =>
      val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("ts", "id")
      val k = Chunking.boundaries(df, "ts", Seq("id"), chunk, start).count()
      assert(k == ts.count(_ > start) / chunk)
    }
  }

  test("distributed and parity boundary computations agree for any input") {
    import spark.implicits._
    cases(6).foreach { case (ts, chunk, start) =>
      val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("ts", "id")
      val a = Chunking.boundaries(df, "ts", Seq("id"), chunk, start)
        .collect().map(_.getLong(0)).toList
      val b = Chunking.boundariesDistributed(df, "ts", Seq("id"), chunk, start, 5)
        .collect().map(_.getLong(0)).toList
      assert(a == b)
    }
  }

  test("distributed interval zip is bit-identical to the parity form for any input") {
    import spark.implicits._
    cases(6).foreach { case (ts, chunk, start) =>
      val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("ts", "id")
      // forced-small chunkSize -> many boundaries, exercising partition edges
      val b = Chunking.boundaries(df, "ts", Seq("id"), chunk, start)
      val parity = Chunking.intervals(b, "ts", start)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      val dist = Chunking.intervalsDistributed(b, "ts", start, numPartitions = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      assert(parity == dist)
    }
  }

  test("capped scan intervals equal the coalesced chunk grid on tie-heavy input") {
    import spark.implicits._
    (1 to 6).foreach { _ =>
      // 400 keys over ~30 values: boundaries repeat, groups start on ties
      val ts = List.fill(400)(rnd.nextLong(30L))
      val chunk = 1L + rnd.nextLong(8L)
      val start = rnd.nextLong(5L) - 1L
      val cap = 2 + rnd.nextInt(6)
      val df = ts.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("ts", "id")
      val cfg = GraftConfig(tableName = "t", timestampColumn = "ts",
        startTime = start, chunkSize = chunk)
      // the grid-coalesce result: groups of `stride` consecutive chunks
      val grid = Chunking.plan(df, cfg, Seq("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
      val stride = (grid.length + cap - 1) / cap
      assert(stride > 1, s"cap $cap does not coalesce ${grid.length} chunks")
      val coalesced = grid.groupBy(_._1 / stride).toList.sortBy(_._1)
        .map { case (_, g) => (g.map(_._2).min, g.map(_._3).max) }
      assert(Chunking.boundedScanIntervals(df, cfg, Seq("id"), cap) == coalesced)
    }
  }

  test("rank selection equals driver-side order statistics at any partition count") {
    (1 to 6).foreach { _ =>
      val values = List.fill(300)(rnd.nextLong(40L))
      val step = 1L + rnd.nextLong(50L)
      val sorted = values.sorted.toIndexedSeq
      val expected = (step to sorted.length.toLong by step).map(r => sorted((r - 1).toInt))
      Seq(1, 3, 7).foreach { parts =>
        val rdd = spark.sparkContext.parallelize(values, 4)
        assert(GlobalRank.valuesAtRanks(rdd, step, parts).toSeq == expected)
      }
    }
  }

  test("type map is total over the 21 declared types and fails closed otherwise") {
    val declared = HanaTypes.mapping(HanaTypes.RefCompatible).keys.toList
    declared.foreach { t =>
      HanaTypes.toSpark(t) // never throws for declared
      HanaTypes.toSpark(t.toLowerCase)
    }
    (1 to 50).foreach { _ =>
      val s = Random.alphanumeric.take(1 + rnd.nextInt(12)).mkString
      if (!declared.contains(s.toUpperCase))
        intercept[IllegalArgumentException](HanaTypes.toSpark(s))
    }
  }
}
