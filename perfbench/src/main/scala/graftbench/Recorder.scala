package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it. `group` is the job group the
  * benchmark set around a traced call; `site` is the short call site of the
  * job's result stage (e.g. `parquet at Tables.scala:12`). */
final class JobRec(val id: Int, val group: String, val site: String,
                   val inSqlExecution: Boolean, val startMs: Long) {
  @volatile var endMs: Long = -1L
}

/** One finished task's metrics, tied to its job through the stage. */
final case class TaskRec(stageId: Int, jobId: Int, launchMs: Long,
                         finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         peakMem: Long, recordsRead: Long, jdbc: Boolean,
                         shuffleWrite: Long, diskSpill: Long)

/** One finished SQL action (collect, count, save): planning time from its
  * `QueryPlanningTracker` and the native / higher-order expression counts of
  * its optimized plan. */
final case class QeRec(planS: Double, nativeNodes: Int, hofNodes: Int)

/** Positions in the recorder's logs; see [[Recorder.mark]]. */
final case class Mark(jobs: Int, tasks: Int, qes: Int)

/** Collects jobs, tasks and SQL actions from Spark's own listener channels.
  * Readers take a [[Mark]] before an operation and read everything recorded
  * since, after [[org.apache.spark.BenchBus.drain]]. */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageJdbc = mutable.Map.empty[Int, Boolean]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]

  def mark: Mark = synchronized(Mark(jobs.size, tasks.size, qes.size))

  def jobsSince(m: Mark): Seq[JobRec] = synchronized(jobs.drop(m.jobs).toList)
  def tasksSince(m: Mark): Seq[TaskRec] = synchronized(tasks.drop(m.tasks).toList)
  def qesSince(m: Mark): Seq[QeRec] = synchronized(qes.drop(m.qes).toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val site =
      if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).name
    e.stageInfos.foreach { s =>
      stageJob(s.stageId) = e.jobId
      stageJdbc(s.stageId) = s.rddInfos.exists(_.name == "JDBCRDD")
    }
    val j = new JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""), site,
      prop("spark.sql.execution.id").isDefined, e.time)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += TaskRec(e.stageId, stageJob.getOrElse(e.stageId, -1),
        e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.peakExecutionMemory, m.inputMetrics.recordsRead,
        stageJdbc.getOrElse(e.stageId, false),
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => p.durationMs).sum
    val (nat, hof) = PlanCounts.of(qe)
    synchronized { qes += QeRec(planMs / 1000.0, nat, hof) }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** Counts of graft's native expression nodes (package `graft.functions`)
  * and of the higher-order-function nodes left in an optimized plan. */
object PlanCounts {
  import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction}

  def of(qe: QueryExecution): (Int, Int) = {
    var nat = 0
    var hof = 0
    def visit(e: Expression): Unit = e.foreach { x =>
      if (x.getClass.getName.startsWith("graft.functions.")) nat += 1
      x match {
        case _: HigherOrderFunction => hof += 1
        case _ => ()
      }
    }
    try qe.optimizedPlan.foreach(_.expressions.foreach(visit))
    catch { case _: Throwable => () }
    (nat, hof)
  }

  /** Rows out of the final `HashAggregate` that produces exactly the
    * columns (a, b) — a `.distinct()` of pairs — in an executed plan. */
  def distinctPairs(qe: QueryExecution, a: String, b: String): Double = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val found = mutable.ArrayBuffer.empty[Long]
    def walk(p: SparkPlan): Unit = {
      p match {
        case ad: AdaptiveSparkPlanExec => walk(ad.executedPlan)
        case qs: QueryStageExec => walk(qs.plan)
        case h: HashAggregateExec if h.output.map(_.name) == Seq(a, b) =>
          h.metrics.get("numOutputRows").foreach(m => found += m.value)
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(qe.executedPlan)
    if (found.isEmpty) 0.0 else found.min.toDouble
  }
}

/** A named interval of wall time in the benchmark's thread. Jobs started
  * inside a span carry the span's id as their job group, so work is
  * attributed without clocks. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val startNs: Long) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans while enabled; a disabled tracer runs bodies unchanged. */
final class Tracer(sc: org.apache.spark.SparkContext, var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def groupOf(s: Span): String = s"span-${s.id}"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        name, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(groupOf(s), name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(groupOf(p), p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** The span and all spans nested in it. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id).toSeq
    root +: kids.flatMap(subtree)
  }

  /** Ids (job groups) of a span and everything nested in it. */
  def groupsUnder(root: Span): Set[String] = subtree(root).map(groupOf).toSet
}
