package graftbench

import java.io.{File, FileInputStream, PrintWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Everything one workload needs: the session, the recorders, the per-run
  * directories and the generator's parameters. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val tracer: Tracer,
                val runDir: String, val inputs: String, val out: String,
                val slots: Int, params: java.util.Properties) {
  def param(k: String): String =
    Option(params.getProperty(k)).getOrElse(sys.error(s"missing parameter $k"))
  def long(k: String): Long = param(k).toLong
  def int(k: String): Int = param(k).toInt

  /** Runs `body` in a span of its own; returns its result, the span, and
    * the jobs and tasks Spark ran for it. */
  def timed[T](name: String)(body: => T): (T, Span, Seq[JobRec], Seq[TaskRec]) = {
    val m = rec.mark
    var sp: Span = null
    val r = tracer.span(name) { sp = tracer.spans.last; body }
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    (r, sp, rec.jobsSince(m), rec.tasksSince(m))
  }

  /** What Spark recorded during the most recent timed operation. */
  var lastWindow: Window = Window(Nil, Nil, Nil)
}

final case class Window(jobs: Seq[JobRec], tasks: Seq[TaskRec], qes: Seq[QeRec])

/** A workload: a fixed round of named operations. Each operation returns
  * the number of input items it processed; the last round's outputs are kept
  * for the checker and written by [[finish]]. */
trait Workload {
  def warmupRounds: Int
  /** Typical seconds of one warm round: `--seconds` is turned into a fixed
    * number of timed rounds with it, so every run of a workload times the
    * same calls at the same point of the JIT's warm-up curve. */
  def nominalRoundSeconds: Double
  def load(ctx: Ctx): Unit = ()
  def ops(ctx: Ctx): Seq[String]
  def op(ctx: Ctx, name: String, index: Int): Long
  def finish(ctx: Ctx): Unit
  /** Layer calls made one at a time (traced runs only). */
  def layers(ctx: Ctx): Map[String, Double]
}

object Main {

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val launchMs = a("launch-ms").toLong
    val slots = a("slots").toInt
    val runDir = a("run-dir")
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble

    val params = new java.util.Properties()
    val in = new FileInputStream(s"${a("inputs")}/params.properties")
    try params.load(in) finally in.close()

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.registerAll(spark)
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val tracer = new Tracer(spark.sparkContext, false)
    val ctx = new Ctx(spark, rec, tracer, runDir, a("inputs"), a("out"),
      slots, params)

    val w: Workload = a("workload") match {
      case "etl_jdbc"      => new EtlJdbc
      case "curation"      => new Curation
      case "vector_search" => new VectorSearch
      case "query_mix"     => new QueryMix
      case other           => sys.error(s"unknown workload $other")
    }

    try {
      val l0 = System.nanoTime()
      w.load(ctx)
      val loadS = (System.nanoTime() - l0) / 1e9
      val names = w.ops(ctx)

      // untimed warm-up: whole rounds, identical to the timed ones
      var index = 0
      val warm = mutable.ArrayBuffer.empty[Double]
      (0 until w.warmupRounds).foreach { _ =>
        val r0 = System.nanoTime()
        names.foreach { n => w.op(ctx, n, index); index += 1 }
        warm += (System.nanoTime() - r0) / 1e9
      }
      BenchBus.drain(spark.sparkContext)

      val firstTimedMs = System.currentTimeMillis()
      val setupS = (firstTimedMs - launchMs) / 1000.0 - loadS
      val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      val tracedTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      val items = mutable.Map.empty[String, Long]
      var attempted = 0L
      var failed = 0L
      var peakMem = 0L
      val opSpans = mutable.ArrayBuffer.empty[(Span, Window)]
      val planned = math.max(1L, math.round(seconds / w.nominalRoundSeconds)).toInt
      // a traced run alternates a plain round with a traced one, so both
      // see the same JIT state
      val rounds = if (traced) math.max(2, planned) else planned
      (0 until rounds).foreach { round =>
        val tracedRound = traced && round % 2 == 1
        tracer.enabled = tracedRound
        names.foreach { n =>
          val m = rec.mark
          var span: Span = null
          val s = System.nanoTime()
          val ok =
            try {
              val got =
                if (tracedRound) tracer.span("op") {
                  span = tracer.spans.last
                  w.op(ctx, n, index)
                }
                else w.op(ctx, n, index)
              items(n) = got
              true
            } catch {
              case e: Exception =>
                System.err.println(s"[perfbench] operation $n failed: $e")
                false
            }
          val dt = (System.nanoTime() - s) / 1e9
          index += 1
          BenchBus.drain(spark.sparkContext)
          val win = Window(rec.jobsSince(m), rec.tasksSince(m), rec.qesSince(m))
          attempted += 1
          if (!ok || win.jobs.isEmpty) {
            if (ok) System.err.println(s"[perfbench] operation $n ran no Spark job")
            failed += 1
          } else {
            ctx.lastWindow = win
            peakMem = math.max(peakMem, (0L +: win.tasks.map(_.peakMem)).max)
            val into = if (tracedRound) tracedTimes else times
            into.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += dt
            if (tracedRound) opSpans += ((span, win))
          }
        }
      }

      tracer.enabled = traced
      def rate(ts: collection.Map[String, mutable.ArrayBuffer[Double]]): Double = {
        val ok = names.filter(ts.contains)
        val den = ok.map(n => median(ts(n).toSeq)).sum
        if (den <= 0) 0.0 else ok.map(items).sum / den
      }

      w.finish(ctx)

      val res = mutable.LinkedHashMap[String, Any](
        "attempted" -> attempted,
        "failed" -> failed,
        "rounds" -> rounds,
        "setup_s" -> setupS,
        "load_s" -> loadS,
        "warmup_round_s" -> warm.toSeq,
        "rate_per_s" -> rate(times),
        "peak_task_mem_mb" -> peakMem / (1024.0 * 1024.0),
        "op_seconds" -> names.map(n => n -> times.getOrElse(n, Nil).toSeq).toMap)
      if (traced) {
        val layer = mutable.LinkedHashMap[String, Double]()
        layer ++= Engine.metrics(opSpans.toSeq, tracer, slots)
        layer("bench.trace_overhead") = {
          val plain = rate(times)
          if (plain > 0) rate(tracedTimes) / plain else 0.0
        }
        layer ++= w.layers(ctx)
        res("layers") = layer
        writeTrace(a("trace-out"), tracer, rec)
      }
      TextFile.write(s"${a("out")}/result.json", Json.render(res))
    } finally spark.stop()
  }

  /** Spans and the jobs attributed to them, for the report command. */
  private def writeTrace(path: String, tracer: Tracer, rec: Recorder): Unit = {
    val base = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
    val jobs = rec.jobsSince(Mark(0, 0, 0))
    val tasks = rec.tasksSince(Mark(0, 0, 0)).groupBy(_.jobId)
    val spans = tracer.spans.map { s =>
      val g = tracer.groupOf(s)
      val js = jobs.filter(_.group == g)
      val ts = js.flatMap(j => tasks.getOrElse(j.id, Nil))
      mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - base) / 1e6, "end_ms" -> (s.endNs - base) / 1e6,
        "jobs" -> js.size, "tasks" -> ts.size,
        "task_run_s" -> ts.map(_.runMs).sum / 1000.0)
    }
    TextFile.write(path, Json.render(Map("spans" -> spans.toSeq)))
  }
}

/** Engine-level metrics of the traced operations, averaged per operation. */
object Engine {
  def metrics(ops: Seq[(Span, Window)], tracer: Tracer,
              slots: Int): Map[String, Double] = {
    if (ops.isEmpty) return Map.empty
    val n = ops.size.toDouble
    def spanSum(root: Span, name: String): Double =
      tracer.subtree(root).filter(_.name == name).map(_.seconds).sum
    def jobsIn(root: Span, name: String, w: Window): Int = {
      val gs = tracer.subtree(root).filter(_.name == name)
        .flatMap(s => tracer.groupsUnder(s)).toSet
      w.jobs.count(j => gs(j.group))
    }
    val construct = ops.map { case (s, _) => spanSum(s, "construct") }.sum
    val constructJobs = ops.map { case (s, w) => jobsIn(s, "construct", w) }.sum
    val exec = ops.map { case (s, _) => spanSum(s, "execute") }.sum
    val plan = ops.map { case (_, w) => w.qes.map(_.planS).sum }.sum
    val jobs = ops.map(_._2.jobs.size).sum
    val stages = ops.map(_._2.tasks.map(_.stageId).distinct.size).sum
    val tasks = ops.flatMap(_._2.tasks)
    val jobWall = ops.map { case (_, w) => unionMs(w.jobs) }.sum / 1000.0
    val run = tasks.map(_.runMs).sum / 1000.0
    val schemaJobs = ops.map(_._2.jobs.count(isSchemaRead)).sum
    Map(
      "engine.construct_s" -> construct / n,
      "engine.construct_jobs" -> constructJobs / n,
      "engine.plan_s" -> plan / n,
      "engine.exec_s" -> exec / n,
      "engine.jobs" -> jobs / n,
      "engine.stages" -> stages / n,
      "engine.tasks_per_stage" -> (if (stages == 0) 0.0 else tasks.size.toDouble / stages),
      "engine.task_run_s" -> run / n,
      "engine.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "engine.gc_s" -> tasks.map(_.gcMs).sum / 1000.0 / n,
      "engine.slot_busy" -> (if (jobWall <= 0) 0.0 else run / (slots * jobWall)),
      "engine.shuffle_bytes" -> tasks.map(_.shuffleWrite).sum / n,
      "engine.spill_bytes" -> tasks.map(_.diskSpill).sum / n,
      "sources.schema_inference_jobs" -> schemaJobs / n,
      "plans.native_nodes" -> ops.map(_._2.qes.map(_.nativeNodes).sum).sum / n,
      "plans.hof_nodes" -> ops.map(_._2.qes.map(_.hofNodes).sum).sum / n)
  }

  /** A parquet schema read: a job started by `spark.read.parquet` outside any
    * SQL execution (a write or a query runs inside one). */
  def isSchemaRead(j: JobRec): Boolean =
    j.site.startsWith("parquet at") && !j.inSqlExecution

  /** Wall time covered by at least one of the jobs, in ms. */
  def unionMs(jobs: Seq[JobRec]): Double = {
    val iv = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total.toDouble
  }
}

/** Writes a text file in UTF-8. */
object TextFile {
  def write(path: String, text: String): Unit = {
    val pw = new PrintWriter(new File(path), StandardCharsets.UTF_8.name())
    try pw.print(text) finally pw.close()
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case (x, y) => render(Seq(x, y))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
