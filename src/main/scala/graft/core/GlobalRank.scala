package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Global rank: the distributed form of `ROW_NUMBER() OVER (ORDER BY k)`,
  * the reference's one non-trivial computation (the chunk-boundary query,
  * `HanaToBQ.java:57`, SURVEY.md §2.3), without the single-partition window
  * that query compiles to.
  *
  * Both entry points do ONE range-partitioned sort and number its output with
  * `zipWithIndex`: the per-partition counts that seed the numbering and the
  * numbering itself read the same shuffle output, so they cannot disagree.
  * (Two separately planned range exchanges each sample their own cut points;
  * a count taken over one and a numbering taken over the other are right only
  * when the engine happens to reuse one exchange for both.)
  */
object GlobalRank {

  /** `df` plus `rankCol`, a non-null 1-based `long`: each row's position in
    * `order` over the whole frame. Rows that tie in `order` take consecutive
    * ranks in no fixed order, so pass a total order when the row (not just
    * its sort key) at a rank matters.
    *
    * One range exchange over `numPartitions` partitions (default
    * `spark.sql.shuffle.partitions`). The sort and the partition counts run
    * here, when the frame is built; reading the result renumbers the stored
    * shuffle output and writes no second shuffle. */
  def withRank(df: DataFrame, order: Seq[Column], rankCol: String,
               numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions
    val ranked = df.repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .rdd.zipWithIndex()
      .map { case (row, i) => Row.fromSeq(row.toSeq :+ (i + 1)) }
    spark.createDataFrame(ranked, df.schema.add(rankCol, LongType, nullable = false))
  }

  /** Exact rank selection: the values at 1-based ranks `step, 2·step, …` of
    * the ascending order of `values`, in order. One range-partitioned sort;
    * `zipWithIndex` counts the sorted partitions and the selection reads the
    * same shuffle output, so the counts and the numbering cannot disagree. */
  private[graft] def valuesAtRanks(values: RDD[Long], step: Long,
                                   numPartitions: Int): Array[Long] = {
    require(step > 0, "step must be positive")
    values.sortBy(identity, ascending = true, numPartitions)
      .zipWithIndex()
      .collect { case (v, i) if (i + 1) % step == 0 => v }
      .collect()
  }
}
