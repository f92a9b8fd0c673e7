package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The benchmark's own tracer. Every public call the benchmark makes runs
  * inside a span: a local property carries the span id to every job the
  * call launches (AQE stage jobs inherit it from the query's captured
  * properties). Each job is mapped through `spark.sql.execution.id` to its
  * SQL execution, and the execution's call site names the module that
  * launched it; job call sites cannot, since AQE stage jobs report a
  * thread-pool frame.
  *
  * A span's wall time splits into the time covered by jobs of each module
  * (overlaps go to the most recently started job) and `driver`, the rest:
  * analysis, planning, AQE re-planning and result handling. The parts add
  * up to the span's wall by construction. Spans and events stay in memory
  * and are reduced once, after the traced pass.
  */
trait Spans {
  /** Runs `body` as a span named `name` within the call named `call`. */
  def span[T](call: String, name: String)(body: => T): T
}

/** Untraced runs: spans cost nothing and record nothing. */
object NoSpans extends Spans {
  def span[T](call: String, name: String)(body: => T): T = body
}

final class Tracer(spark: SparkSession) extends Spans {
  import Tracer._

  private val sc = spark.sparkContext
  private val listener = new Listener
  sc.addSparkListener(listener)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  def span[T](call: String, name: String)(body: => T): T = {
    nextId += 1
    val id = s"s$nextId"
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id)
    val start = System.currentTimeMillis()
    try body
    finally {
      spans += Span(id, call, name, start, System.currentTimeMillis())
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  def stop(): Unit = sc.removeSparkListener(listener)

  /** Drains the listener bus, then reduces spans and events. */
  def report(): Report = {
    drain(spark)
    val jobs = listener.jobs.values.toSeq
    val execModule = listener.execModule.toMap
    def moduleOf(j: JobRec): String =
      j.execId.flatMap(execModule.get).getOrElse(j.fallbackModule)
    val bySpan = jobs.filter(_.spanId.isDefined).groupBy(_.spanId.get)

    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { sp =>
      val js = bySpan.getOrElse(sp.id, Nil).filter(_.end >= 0).map { j =>
        (math.max(j.start, sp.start), math.min(j.end, sp.end), moduleOf(j))
      }.filter(x => x._2 > x._1)
      val parts = attribute(sp.start, sp.end, js)
      val key = if (sp.name == "config") (_: String) => "config" else (m: String) => m
      parts.foreach { case (m, ms) => self(key(m)) += ms / 1000.0 }
    }

    val stageOf = listener.stages.toMap
    def stagesOf(js: Iterable[JobRec]) = js.flatMap(_.stageIds).flatMap(stageOf.get)
    val jobModule = jobs.map(j => j -> moduleOf(j))
    def jobsIn(m: String) = jobModule.collect { case (j, `m`) => j }

    val allStages = stagesOf(jobs)
    Report(
      spanWall = spans.map(_.wallS).sum,
      self = self.toMap,
      moduleJobs = jobModule.groupBy(_._2).view.mapValues(_.size).toMap,
      moduleTaskS = (m: String) => stagesOf(jobsIn(m)).map(_.runMs).sum / 1000.0,
      moduleShuffleMb = (m: String) => stagesOf(jobsIn(m)).map(_.shuffleWrite).sum / 1e6,
      spans = spans.toSeq.map(sp => sp -> bySpan.getOrElse(sp.id, Nil).size),
      jobs = jobs.size,
      stages = allStages.size,
      tasks = allStages.map(_.tasks).sum,
      shuffleWriteMb = allStages.map(_.shuffleWrite).sum / 1e6,
      spillMb = allStages.map(_.spill).sum / 1e6,
      taskS = allStages.map(_.runMs).sum / 1000.0,
      gcS = allStages.map(_.gcMs).sum / 1000.0)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  def drain(spark: SparkSession): Unit =
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)

  final case class Span(id: String, call: String, name: String, start: Long, end: Long) {
    def wallS: Double = (end - start) / 1000.0
  }
  final case class JobRec(id: Int, start: Long, var end: Long, execId: Option[Long],
      spanId: Option[String], stageIds: Seq[Int], fallbackModule: String)
  final case class StageRec(tasks: Int, runMs: Long, shuffleWrite: Long, spill: Long, gcMs: Long)

  final case class Report(
      spanWall: Double,
      self: Map[String, Double],
      moduleJobs: Map[String, Int],
      moduleTaskS: String => Double,
      moduleShuffleMb: String => Double,
      spans: Seq[(Span, Int)],
      jobs: Int,
      stages: Int,
      tasks: Int,
      shuffleWriteMb: Double,
      spillMb: Double,
      taskS: Double,
      gcS: Double)

  /** Splits [start, end) into module time and `driver` time: each instant
    * goes to the most recently started job covering it. */
  def attribute(start: Long, end: Long, jobs: Seq[(Long, Long, String)]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val cuts = (Seq(start, end) ++ jobs.flatMap(j => Seq(j._1, j._2))).distinct.sorted
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val live = jobs.filter(j => j._1 <= a && j._2 >= b)
        val m = if (live.isEmpty) "driver" else live.maxBy(_._1)._3
        out(m) += (b - a).toDouble
      case _ => ()
    }
    out.toMap
  }

  /** Module of the first frame in a call-site stack that belongs to the
    * engine or to this benchmark: the benchmark's own frames mean the final
    * materialization (`result`); engine frames map to the paper-core
    * modules or, for the extension operators, to `ops`. The checkpoint
    * helper is skipped so its caller gets the time. */
  def moduleFromStack(details: String): String = {
    val frames = Option(details).getOrElse("").linesIterator.map(_.trim).filter(_.nonEmpty)
    frames.map(cls).collectFirst(Function.unlift(classify)).getOrElse("other")
  }

  private def cls(frame: String): String = {
    val p = frame.indexOf('(')
    if (p > 0) frame.substring(0, p) else frame
  }

  private def classify(c: String): Option[String] =
    if (c.startsWith("perfbench.")) Some("result")
    else if (c.startsWith("graft.ops.")) Some("ops")
    else if (c.startsWith("graft.Checkpoints")) None
    else if (c.startsWith("graft.StatsAgg")) Some("StatsAgg")
    else if (c.startsWith("graft.Ranks")) Some("Ranks")
    else if (c.startsWith("graft.StagedEvaluator")) Some("StagedEvaluator")
    else if (c.startsWith("graft.")) Some("other")
    else None

  private final class Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val execModule = mutable.Map.empty[Long, String]
    val stages = mutable.Map.empty[Int, StageRec]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val fallback = e.stageInfos.sortBy(_.stageId).lastOption
        .map(s => moduleFromStack(s.details)).getOrElse("other")
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L,
        prop("spark.sql.execution.id").map(_.toLong), prop(SpanKey),
        e.stageIds, fallback)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null)
        stages(si.stageId) = StageRec(si.numTasks, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execModule(s.executionId) = moduleFromStack(s.details)
      case _ => ()
    }
  }
}
