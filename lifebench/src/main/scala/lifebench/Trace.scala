package lifebench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Wall clock in epoch milliseconds with sub-millisecond resolution:
  * monotonic within the run, and comparable with the epoch-ms timestamps
  * Spark puts on jobs, stages and streaming progress. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Int, name: String, parent: Int, req: Long,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spans recorded by the benchmark around its calls into each engine
  * module. Kept in memory and written when the run ends. With tracing off
  * a span is just its body. The innermost open span's id and its request id
  * ride on the calling thread's Spark local properties, so every job a
  * span starts can be attributed to it. */
final class Tracer(val enabled: Boolean, sc: Option[SparkContext]) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }
  private var nextId = 0

  def span[T](name: String, req: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(-1)
      val r = if (req >= 0) req else outer.headOption.map(_._2).getOrElse(-1L)
      val id = synchronized { nextId += 1; nextId }
      stack.set((id, r) :: outer)
      sc.foreach { c =>
        c.setLocalProperty(Tracer.SpanKey, id.toString)
        c.setLocalProperty(Tracer.ReqKey, r.toString)
      }
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        synchronized { spans += Span(id, name, parent, r, t0, t1) }
        stack.set(outer)
        sc.foreach { c =>
          c.setLocalProperty(Tracer.SpanKey, outer.headOption.map(_._1.toString).orNull)
          c.setLocalProperty(Tracer.ReqKey, outer.headOption.map(_._2.toString).orNull)
        }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startMs).map { s =>
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "req": ${s.req}, "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val SpanKey = "lifebench.span"
  val ReqKey = "lifebench.req"
}

/** Work counters beneath the engine's modules, from Spark's own listener
  * events: jobs, stages, tasks, task CPU, stage intervals, shuffle and
  * spill bytes, GC, planning phases, and each SQL execution's modified
  * session configs. Registered by the traced run only. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val planning = mutable.ArrayBuffer.empty[Planning]
  val sqlStarts = mutable.ArrayBuffer.empty[SqlStart]
  private val executionModule = mutable.Map.empty[Long, String]

  /** A job's module comes from the call site of the SQL execution that
    * ran it when there is one: adaptive query stages and broadcasts run
    * on pool threads whose own call sites hold no engine frame. */
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val own = module(e.stageInfos.headOption.map(_.details).orNull)
    jobs += Job(e.jobId, e.time.toDouble,
      prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1),
      prop(Tracer.ReqKey).map(_.toLong).getOrElse(-1L),
      prop("sql.streaming.queryId").getOrElse(""), e.stageIds,
      prop("spark.sql.execution.id").flatMap(id => executionModule.get(id.toLong))
        .filter(_ => own == Other).getOrElse(own))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += Stage(i.stageId, i.submissionTime.getOrElse(0L).toDouble,
      i.completionTime.getOrElse(0L).toDouble, i.numTasks,
      if (m == null) 0.0 else m.executorCpuTime / 1e6,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0.0 else m.jvmGCTime.toDouble,
      if (m == null) 0L else m.inputMetrics.recordsRead)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlStarts += SqlStart(s.time.toDouble, s.jobGroupId, s.modifiedConfigs)
      executionModule(s.executionId) = module(s.details)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        planning += Planning(ph.map(_.startTimeMs).min.toDouble,
          ph.map(_.durationMs).sum.toDouble)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Counters over the jobs `keep` selects, within the wall-clock
    * `windows` (epoch ms) they ran in. */
  def counters(keep: Job => Boolean, windows: Seq[(Double, Double)]): Counters = synchronized {
    val js = jobs.filter(keep)
    val ids = js.flatMap(_.stages).toSet
    val ss = stages.filter(s => ids.contains(s.id))
    val stageIv = ss.map(s => (s.startMs, s.endMs)).toSeq
    val covered = windows.map { case (lo, hi) => Stats.unionLength(Stats.clip(stageIv, lo, hi)) }.sum
    val wall = windows.map { case (lo, hi) => hi - lo }.sum
    Counters(js.length, ss.length, ss.map(_.tasks).sum, ss.map(_.cpuMs).sum,
      covered, wall - covered,
      planning.filter(p => windows.exists { case (lo, hi) => p.startMs >= lo && p.startMs <= hi })
        .map(_.ms).sum,
      ss.map(_.shuffleWrite).sum.toDouble, ss.map(_.spill).sum.toDouble,
      ss.map(_.gcMs).sum, ss.map(_.recordsRead).sum.toDouble)
  }

  /** Jobs per engine module. */
  def jobsByModule(keep: Job => Boolean): Map[String, Int] = synchronized {
    jobs.filter(keep).groupBy(_.module).map { case (m, v) => m -> v.length }
  }
}

object Recorder {
  final case class Job(id: Int, startMs: Double, span: Int, req: Long,
                       streamQuery: String, stages: Seq[Int], module: String)
  final case class Stage(id: Int, startMs: Double, endMs: Double, tasks: Int,
                         cpuMs: Double, shuffleWrite: Long, spill: Long,
                         gcMs: Double, recordsRead: Long)
  final case class Planning(startMs: Double, ms: Double)
  final case class SqlStart(timeMs: Double, jobGroup: Option[String], configs: Map[String, String])

  private val Frame = """(?m)^\s*(graft(?:\.(?:sources|operators|functions|streaming|plans))?)\.[A-Z]""".r

  /** The engine module of the innermost engine frame in a call site (the
    * engine code that ran the action): `graft.operators`,
    * `graft.functions`, … or top-level `graft`; `other` when no engine
    * frame appears. */
  def module(callSite: String): String =
    if (callSite == null) Other
    else Frame.findFirstMatchIn(callSite).map(_.group(1)).getOrElse(Other)

  val Other = "other"

  /** Served SQL executions that started while a session conf held a
    * value it never held at workload start. `baseline` are the
    * modified-config maps of the served executions before any other work
    * ran beside them: the streaming engine itself varies a few keys
    * between its own executions, so every value seen there is allowed
    * (an absent key counts as a value). */
  def confLeaks(baseline: Seq[Map[String, String]], served: Seq[Map[String, String]]): Int = {
    val keys = (baseline ++ served).flatMap(_.keySet).toSet
    val allowed = keys.map(k => k -> baseline.map(_.get(k)).toSet).toMap
    served.count(m => keys.exists(k => !allowed(k).contains(m.get(k))))
  }
}

/** Runtime counters over a set of jobs. Times in ms. */
final case class Counters(jobs: Int, stages: Int, tasks: Int, taskCpuMs: Double,
                          stageUnionMs: Double, outsideStagesMs: Double,
                          planningMs: Double, shuffleWriteBytes: Double,
                          spillBytes: Double, gcMs: Double, recordsRead: Double) {
  /** The ten per-layer runtime metrics for workload prefix `w`, each
    * divided by `per` (queries, micro-batches, or 1 for a run). */
  def metrics(w: String, per: Double): Seq[(String, Double, String)] = {
    val d = math.max(per, 1.0)
    Seq(
      (s"$w.jobs", jobs / d, "count"), (s"$w.stages", stages / d, "count"),
      (s"$w.tasks", tasks / d, "count"), (s"$w.task_cpu_ms", taskCpuMs / d, "ms"),
      (s"$w.stage_union_ms", stageUnionMs / d, "ms"),
      (s"$w.outside_stages_ms", outsideStagesMs / d, "ms"),
      (s"$w.planning_ms", planningMs / d, "ms"),
      (s"$w.shuffle_write_bytes", shuffleWriteBytes / d, "bytes"),
      (s"$w.spill_bytes", spillBytes / d, "bytes"), (s"$w.gc_ms", gcMs / d, "ms"))
  }
}
