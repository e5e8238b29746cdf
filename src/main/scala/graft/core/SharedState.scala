package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one registry for state shared ACROSS queries in a process: trained
  * models (IVF coarse quantizer, PQ codebooks, BPE merges) and materialized
  * frames (the curation kernel, the co-purchase edge list, the exact table
  * profile, ...). Several lanes compute the identical state from the same
  * input; building it once and letting every consumer read it is "stage
  * output persisted once, read by every consumer" at real scale.
  *
  * Every decision about an entry is made here, once:
  *
  *   - '''Key.''' (session, state name, caller key). The session keeps test
  *     suites with their own sessions apart. The state name groups the
  *     entries one owner builds, so [[reset]] can drop them together. The
  *     caller key holds the corpus key, every free parameter of the build,
  *     and the input's [[planFingerprint]]: a reused corpus key over a
  *     different input, or different columns of it, misses and rebuilds.
  *   - '''Race.''' `get` then `putIfAbsent`, never `computeIfAbsent`: a
  *     build runs multi-second Spark jobs, and one build may read another
  *     entry of the same state (the curation `clean` frame reads `kept`).
  *     Two callers racing on one key both build; the state is
  *     deterministic, so the first to publish wins and the loser's pinned
  *     blocks are released.
  *   - '''Materialization.''' A DataFrame value is checkpointed EAGERLY
  *     ([[checkpoint]]) before it is published. A lazy checkpoint would
  *     compute on its first action, reading intermediates (a build's own
  *     lazy checkpoints) that the bench's between-query cleanup may have
  *     dropped by then.
  *   - '''Pinning.''' Every DataFrame in a value (the value itself, or a
  *     tuple's fields) gets [[PinnedRddName]] on its checkpoint blocks. The
  *     bench unpersists every other persistent RDD between queries; a
  *     checkpoint has a truncated lineage, so losing its blocks is
  *     unrecoverable.
  *
  * Values that are driver state (centroid literals, codebooks) have no
  * blocks and are kept as they are. Entries live until [[reset]]; a stopped
  * session's entries are not released. */
object SharedState {

  /** RDD name marking a shared frame's checkpoint blocks. */
  val PinnedRddName = "graft_memo_pinned"

  private val entries = TrieMap.empty[(SparkSession, String, Any), Any]

  /** The entry for (`spark`, `name`, `key`), built by `build` on a miss.
    * A build that returns DataFrames materializes them itself with
    * [[checkpoint]]; use [[frame]] when the value is one frame. */
  def getOrBuild[V](spark: SparkSession, name: String, key: Any)
                   (build: => V): V = {
    val k = (spark, name, key)
    entries.get(k) match {
      case Some(hit) => hit.asInstanceOf[V]
      case None =>
        val built = build
        framesOf(built).foreach(pin)
        entries.putIfAbsent(k, built) match {
          case None => built
          case Some(winner) =>
            framesOf(built).foreach(unpin)
            winner.asInstanceOf[V]
        }
    }
  }

  /** [[getOrBuild]] for a frame-valued state: the built frame is
    * checkpointed eagerly, then pinned. */
  def frame(spark: SparkSession, name: String, key: Any)
           (build: => DataFrame): DataFrame =
    getOrBuild(spark, name, key)(checkpoint(build))

  /** The materialization policy for shared frames: an eager local
    * checkpoint, computed while the build's own inputs still exist. */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Drop this session's entries under `name` and release their blocks.
    * The bench calls it before each timed run of the state's owner lane,
    * so the owner pays the build and consumers measure marginal work. */
  def reset(spark: SparkSession, name: String): Unit =
    entries.keys.foreach { k =>
      if ((k._1 eq spark) && k._2 == name)
        entries.remove(k).foreach(v => framesOf(v).foreach(unpin))
    }

  /** Cheap identity for a shared state's INPUT relation: the analyzed
    * plan's semantic hash (no job runs). Two frames built by the same
    * DataFrame code over the same paths hash equal (semanticHash ignores
    * expression ids), so owner → consumer sharing still hits. */
  def planFingerprint(df: DataFrame): Int =
    df.queryExecution.analyzed.semanticHash()

  private def framesOf(v: Any): Seq[Dataset[_]] = v match {
    case df: Dataset[_] => Seq(df)
    case t: Product     => t.productIterator.collect { case df: Dataset[_] => df }.toSeq
    case _              => Nil
  }

  private def rddsOf(df: Dataset[_]) =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

  private def pin(df: Dataset[_]): Unit =
    rddsOf(df).foreach(_.setName(PinnedRddName))

  private def unpin(df: Dataset[_]): Unit =
    rddsOf(df).foreach(_.unpersist(false))
}
