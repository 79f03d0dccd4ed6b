package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Epoch milliseconds with nanosecond resolution, so span boundaries line up
  * with the task finish times Spark reports. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One layer call timed from outside the layer. `parent` is the id of the
  * enclosing span, -1 for a top-level call of the pass. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startMs: Double, var endMs: Double = Double.NaN) {
  def ms: Double = endMs - startMs
}

/** Records layer spans and boundary counts. Off (the untraced run), `span`
  * only runs its body and `boundary` returns its input untouched, so the
  * end-to-end passes execute exactly the calls a user makes. On, each
  * layer's output is persisted and counted at its boundary, so the layer's
  * span covers that layer's work instead of deferring it to the next
  * action. */
final class Tracer(val on: Boolean, val probe: Option[Probe]) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-pass boundary counts, keyed by per-layer metric name. */
  val notes = mutable.Map.empty[String, Double]
  var pass = 0
  private var open: List[Span] = Nil

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), pass, Clock.ms())
      spans += s
      open = s :: open
      try body finally { s.endMs = Clock.ms(); open = open.tail }
    }

  def note(key: String, v: Double): Unit =
    if (on) notes(key) = notes.getOrElse(key, 0.0) + v

  /** Persists `ds` and counts its rows into `key` with one job; `extra`
    * aggregates over the same job are noted under their own keys. */
  def boundary[T](ds: Dataset[T], key: String, extra: (String, Column)*): Dataset[T] =
    if (!on) ds
    else {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      val r = p.toDF().agg(count(lit(1)), extra.map(_._2): _*).head()
      note(key, r.getLong(0).toDouble)
      extra.zipWithIndex.foreach { case ((k, _), i) =>
        note(k, Option(r.get(i + 1)).collect { case n: Number => n.doubleValue }.getOrElse(0.0))
      }
      p
    }

  /** Jobs that constructing a plan runs eagerly, before any action. */
  def eagerJobs[A](key: String)(construct: => A): A = probe.filter(_ => on) match {
    case None => construct
    case Some(p) =>
      val before = p.jobsNow()
      val a = construct
      note(key, (p.jobsNow() - before).toDouble)
      a
  }
}

/** Listener-side engine counters: a SparkListener (jobs, stages, tasks), a
  * QueryExecutionListener (executed-plan features per action) and a
  * StreamingQueryListener (micro-batch progress). Attached only for traced
  * passes; events are drained from the listener bus before being read. */
final class Probe(spark: SparkSession) {
  import Probe._

  val tasks = new ConcurrentLinkedQueue[Task]()
  val jobs = new ConcurrentLinkedQueue[Long]()
  val stages = new ConcurrentLinkedQueue[Int]()
  val actions = new ConcurrentLinkedQueue[Action]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e.time); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.add(e.stageInfo.stageId); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        tasks.add(Task(e.taskInfo.finishTime, e.taskInfo.duration, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
      ()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = Probe.planNodes(qe.executedPlan)
      val fallback = nodes.iterator.map(_.expressions.iterator
        .map(_.collect { case f: CodegenFallback => f }.size).sum).sum
      actions.add(Action(fallback, nodes.count(_.isInstanceOf[WholeStageCodegenExec])))
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      progress.add(Progress(p.name,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum))
      ()
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = ListenerBusAccess.drain(spark.sparkContext)

  def jobsNow(): Int = { drain(); jobs.size }

  def clear(): Unit = {
    drain()
    Seq(tasks, jobs, stages, actions, progress).foreach(_.clear())
  }
}

object Probe {
  final case class Task(endMs: Long, durMs: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long,
                        spillB: Long)
  final case class Action(fallbackExprs: Int, wscgStages: Int)
  final case class Progress(queryName: String, durations: Map[String, Long],
                            stateRows: Long, stateBytes: Long,
                            stateCommitMs: Long, lateDropped: Long)

  /** Every physical node of an executed plan, through adaptive wrappers,
    * query stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
