package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, timed from the benchmark's side of the call.
  * `builder` marks a call that returns a DataFrame: Spark jobs that run
  * inside it are eager builder jobs, not execution of the returned plan.
  * Wall-clock milliseconds place Spark events inside spans; the
  * nanosecond duration gives self time. */
final case class Span(id: Int, parent: Int, iteration: Int, name: String,
    layer: String, builder: Boolean, startMs: Long, endMs: Long, durNs: Long)

/** Records spans when enabled; a disabled tracer only runs the body. */
final class Tracer {
  var enabled = false
  var iteration = 0
  private var nextId = 0
  private var open: List[Int] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[A](name: String, layer: String, builder: Boolean = false)(
      body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        val durNs = System.nanoTime() - ns0
        spans += Span(id, parent, iteration, name, layer, builder, ms0,
          System.currentTimeMillis(), durNs)
        open = open.tail
      }
    }
}

/** Raw Spark events, collected by a listener registered only for the
  * traced phase. Listener callbacks arrive on the listener-bus threads,
  * so every buffer is guarded by the recorder's lock. */
final class Recorder extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, stages: Seq[Int],
      var endMs: Long = -1L)
  final case class Stage(id: Int, attempt: Int, submitMs: Long,
      completeMs: Long, shuffleWriteBytes: Long, spillBytes: Long)
  final class Tasks {
    var n = 0; var failed = 0; var sumMs = 0L; var maxMs = 0L
  }
  final case class Query(startMs: Long, catalystMs: Long, joinRows: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.Map.empty[(Int, Int), Tasks]
  val queries = mutable.ArrayBuffer.empty[Query]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages += Stage(s.stageId, s.attemptNumber(),
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tasks.getOrElseUpdate((e.stageId, e.stageAttemptId), new Tasks)
    val d = e.taskInfo.duration
    t.n += 1
    if (!e.taskInfo.successful) t.failed += 1
    t.sumMs += d
    t.maxMs = math.max(t.maxMs, d)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val q = Query(
      if (phases.isEmpty) 0L else phases.map(_.startTimeMs).min,
      phases.map(_.durationMs).sum,
      Recorder.joinOutputRows(qe.executedPlan))
    synchronized { queries += q }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Recorder extends AdaptiveSparkPlanHelper {
  /** Rows produced by every join of an executed plan (adaptive stages
    * included): the rows a query examined to produce its result. */
  def joinOutputRows(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case j: BaseJoinExec =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}

/** Spark work and span time attributed to one span. */
final class Counts {
  var jobs = 0; var builderJobs = 0; var builderMs = 0L
  var stages = 0; var tasks = 0; var failedTasks = 0; var taskMs = 0L
  var maxTaskMs = 0L; var stageMs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L
  var catalystMs = 0L; var joinRows = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; builderJobs += o.builderJobs; builderMs += o.builderMs
    stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskMs += o.taskMs; maxTaskMs += o.maxTaskMs; stageMs += o.stageMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    catalystMs += o.catalystMs; joinRows += o.joinRows
  }
}

/** The traced phase of a run: tracer, Spark listeners, GC clock, and the
  * attribution of every Spark event to the innermost span open at the
  * event's time. */
final class TracedRun(spark: SparkSession) {
  val tracer = new Tracer
  private val rec = new Recorder
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def start(): Unit = {
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    tracer.enabled = true
  }

  /** Stops recording and attributes the recorded events to spans. */
  def finish(): Attribution = {
    tracer.enabled = false
    ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
    rec.synchronized(new Attribution(tracer.spans.toVector, rec))
  }
}

final class Attribution(val spans: Vector[Span], rec: Recorder) {
  private val byId = spans.map(s => s.id -> s).toMap
  val counts: Map[Int, Counts] = spans.map(s => s.id -> new Counts).toMap

  /** Innermost span open at `t`: the latest-started one containing it. */
  private def spanAt(t: Long): Option[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs)
      .maxByOption(s => (s.startMs, s.id))

  private val jobSpan: Map[Int, Span] = rec.jobs.iterator.flatMap { j =>
    spanAt(j.startMs).map(j.id -> _)
  }.toMap
  private val stageSpan: Map[Int, Span] = rec.jobs.iterator.flatMap { j =>
    jobSpan.get(j.id).toSeq.flatMap(s => j.stages.map(_ -> s))
  }.toMap

  rec.jobs.foreach { j =>
    jobSpan.get(j.id).foreach { s =>
      val c = counts(s.id)
      c.jobs += 1
      if (s.builder) {
        c.builderJobs += 1
        if (j.endMs >= j.startMs) c.builderMs += j.endMs - j.startMs
      }
    }
  }
  rec.stages.foreach { st =>
    stageSpan.get(st.id).foreach { s =>
      val c = counts(s.id)
      c.stages += 1
      c.stageMs += math.max(0L, st.completeMs - st.submitMs)
      c.shuffleWriteBytes += st.shuffleWriteBytes
      c.spillBytes += st.spillBytes
      rec.tasks.get((st.id, st.attempt)).foreach { t =>
        c.tasks += t.n; c.failedTasks += t.failed; c.taskMs += t.sumMs
        c.maxTaskMs += t.maxMs
      }
    }
  }
  rec.queries.foreach { q =>
    spanAt(q.startMs).foreach { s =>
      val c = counts(s.id)
      c.catalystMs += q.catalystMs
      c.joinRows += q.joinRows
    }
  }

  /** Span duration minus the part its direct children cover. */
  def selfNs(s: Span): Long =
    s.durNs - spans.iterator.filter(_.parent == s.id).map(_.durNs).sum

  /** Counts of a span and all its descendants. */
  def total(s: Span): Counts = {
    val c = new Counts
    def add(x: Span): Unit = {
      c += counts(x.id)
      spans.iterator.filter(_.parent == x.id).foreach(add)
    }
    add(s)
    c
  }

  def sum(pred: Span => Boolean): Counts = {
    val c = new Counts
    spans.iterator.filter(pred).foreach(s => c += counts(s.id))
    c
  }

  def layers: Seq[String] = spans.map(_.layer).distinct.sorted

  def parentOf(s: Span): Option[Span] = byId.get(s.parent)
}
