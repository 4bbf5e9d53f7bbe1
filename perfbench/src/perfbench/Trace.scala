package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a query, a Spark job or a planning phase. Times are
  * epoch milliseconds; `parent` names the enclosing span. */
final case class Span(kind: String, name: String, start: Double, end: Double, parent: String)

/** Listener hooks registered from the benchmark only: a SparkListener (jobs,
  * stages, tasks), a QueryExecutionListener (planning phases and executed
  * plans) and a StreamingQueryListener (micro-batch progress). While attached
  * they record raw events; [[endPass]] turns one pass's events into layer
  * counters and spans. Jobs carry the running query in a local property, so
  * job and task work is charged to the query that submitted it; plan events
  * are charged by the time their analysis started. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val lock = new Object
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stageQuery = mutable.Map[Int, String]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val plans = mutable.ArrayBuffer[PlanRec]()
  private val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()
  private val openJobs = mutable.Map[Int, (Double, String)]()
  val spans = mutable.ArrayBuffer[Span]()
  private var stagesDone = 0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val q = Option(e.properties).map(_.getProperty(QueryProperty)).orNull
      e.stageIds.foreach(stageQuery(_) = q)
      openJobs(e.jobId) = (e.time.toDouble, q)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      openJobs.remove(e.jobId).foreach { case (t0, q) =>
        jobs += JobRec(e.jobId, q, t0, e.time.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { stagesDone += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(
        stageQuery.getOrElse(e.stageId, null),
        e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
    val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
    val nodes = plan.map(p => PlanWalk.collect(p) { case n => n }).getOrElse(Nil)
    val rec = PlanRec(
      phases.values.map(_._1).minOption.getOrElse(System.currentTimeMillis().toDouble),
      phases,
      nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(n => GraftExecs(n.getClass.getSimpleName)),
      nodes.count(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[CartesianProductExec]),
      nodes.collect { case j: BaseJoinExec =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L) }.sum)
    lock.synchronized { plans += rec }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val sessions = mutable.ArrayBuffer[SparkSession]()

  /** Start recording; plan and stream hooks are per session. */
  def attach(sessionsToWatch: Seq[SparkSession]): Unit = {
    sc.addSparkListener(sparkListener)
    sessionsToWatch.foreach { s =>
      s.listenerManager.register(planListener)
      s.streams.addListener(streamListener)
      sessions += s
    }
  }

  /** Stop recording: every hook is removed, so untraced passes run bare. */
  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    sessions.foreach { s =>
      s.listenerManager.unregister(planListener)
      s.streams.removeListener(streamListener)
    }
    sessions.clear()
  }

  /** Fold the events of the pass that ran over [t0, t1] (epoch ms) into
    * layer counters, clear them, and keep the pass's spans. */
  def endPass(pass: String, queries: Seq[QueryTiming], t0: Double, t1: Double,
      module: String => String): Map[String, Double] = {
    PerfbenchBus.drain(sc)
    lock.synchronized {
      val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
      ZeroWhenIdle.foreach(c(_) = 0.0)
      val wall = (t1 - t0) / 1000.0
      def queryAt(t: Double): Option[QueryTiming] =
        queries.find(q => t >= q.startMs - 1 && t <= q.endMs + 1)
      queries.foreach(q => spans += Span("query", q.name, q.startMs, q.endMs, pass))
      jobs.foreach(j => spans += Span("job", s"job ${j.id}", j.start, j.end,
        Option(j.query).getOrElse(pass)))

      c("spark.jobs") = jobs.size
      c("spark.stages") = stagesDone
      c("spark.tasks") = tasks.size
      val taskS = tasks.map(t => (t.end - t.start) / 1000.0).sum
      c("spark.task_s") = taskS
      c("spark.cores_busy") = if (wall > 0) taskS / wall else 0
      c("spark.idle_s") = wall - covered(tasks.map(t => (t.start, t.end)), t0, t1)
      c("spark.shuffle_write_mb") = tasks.map(_.shuffleWrite).sum / MB
      c("spark.shuffle_read_mb") = tasks.map(_.shuffleRead).sum / MB
      c("spark.spill_mb") = tasks.map(_.spill).sum / MB
      c("sources.scan_rows") = tasks.map(_.inRows).sum.toDouble
      c("sources.scan_mb") = tasks.map(_.inBytes).sum / MB
      c("sources.scan_tasks") = tasks.count(t => t.inBytes > 0 || t.inRows > 0).toDouble
      c("sources.write_mb") = tasks.map(_.outBytes).sum / MB
      c("sources.write_rows") = tasks.map(_.outRows).sum.toDouble

      plans.foreach { p =>
        val parent = queryAt(p.start).map(_.name).getOrElse(pass)
        Seq("analysis", "optimization", "planning").foreach { ph =>
          p.phases.get(ph).foreach { case (s, e) =>
            c(s"plans.${ph}_s") += (e - s) / 1000.0
            spans += Span("phase", ph, s, e, parent)
          }
        }
        c("plans.exchanges") += p.exchanges
        c("plans.graft_exec_nodes") += p.graftExecs
        c("plans.nested_loop_joins") += p.nestedLoops
      }

      // per-module totals and join work over the queries each module owns
      val joinRows = mutable.Map[String, Long]().withDefaultValue(0L)
      plans.foreach(p => queryAt(p.start).foreach(q => joinRows(q.name) += p.joinRows))
      queries.groupBy(q => module(q.name)).foreach { case (m, qs) =>
        val names = qs.map(_.name).toSet
        c(s"$m.query_s") += qs.map(_.seconds).sum
        c(s"$m.jobs") += jobs.count(j => names(j.query))
        c(s"$m.task_s") += tasks.filter(t => names(t.query))
          .map(t => (t.end - t.start) / 1000.0).sum
        c(s"$m.self_s") += qs.map(q => q.seconds -
          covered(jobs.filter(_.query == q.name).map(j => (j.start, j.end)),
            q.startMs, q.endMs)).sum
        val resultRows = qs.map(_.rows).sum
        c(s"$m.join_rows") += names.toSeq.map(joinRows).sum.toDouble
        c(s"$m.result_rows") += resultRows.toDouble
      }

      // streaming: per micro-batch durations; state size from each run's last batch
      progress.foreach { e =>
        val p = e.progress
        c("streaming.batches") += 1
        c("streaming.input_rows") += p.numInputRows.toDouble
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue / 1000.0).getOrElse(0.0)
        c("streaming.trigger_s") += ms("triggerExecution")
        c("streaming.add_batch_s") += ms("addBatch")
        c("streaming.wal_commit_s") += ms("walCommit")
        c("streaming.state_commit_s") += p.stateOperators.map(_.commitTimeMs / 1000.0).sum
      }
      progress.groupBy(_.progress.runId).values.foreach { evs =>
        val last = evs.maxBy(_.progress.batchId).progress
        c("streaming.state_rows") += last.stateOperators.map(_.numRowsTotal).sum.toDouble
        c("streaming.state_mb") += last.stateOperators.map(_.memoryUsedBytes).sum / MB
      }

      jobs.clear(); tasks.clear(); plans.clear(); progress.clear(); stageQuery.clear()
      stagesDone = 0
      c.toMap
    }
  }
}

object Tracer {
  val QueryProperty = "perfbench.query"
  val MB: Double = 1024.0 * 1024.0
  private val GraftExecs = Set("TopKPerGroupExec", "AsofBroadcastJoinExec")
  /** Counters reported as 0 when a pass does no work in their layer. */
  private val ZeroWhenIdle: Seq[String] =
    Seq("llm", "ml", "operators").flatMap(m =>
      Seq("query_s", "jobs", "task_s", "self_s", "join_rows", "result_rows").map(k => s"$m.$k")) ++
      Seq("batches", "input_rows", "trigger_s", "add_batch_s", "wal_commit_s", "state_rows",
        "state_mb", "state_commit_s").map(k => s"streaming.$k") ++
      Seq("analysis_s", "optimization_s", "planning_s", "exchanges", "graft_exec_nodes",
        "nested_loop_joins").map(k => s"plans.$k")

  final case class QueryTiming(name: String, startMs: Double, endMs: Double, rows: Long) {
    def seconds: Double = (endMs - startMs) / 1000.0
  }
  private final case class JobRec(id: Int, query: String, start: Double, end: Double)
  private final case class TaskRec(query: String, start: Double, end: Double,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, inBytes: Long, inRows: Long,
      outBytes: Long, outRows: Long)
  private final case class PlanRec(start: Double, phases: Map[String, (Double, Double)],
      exchanges: Int, graftExecs: Int, nestedLoops: Int, joinRows: Long)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Length of the union of `intervals` clipped to [t0, t1], in seconds. */
  def covered(intervals: Iterable[(Double, Double)], t0: Double, t1: Double): Double = {
    var total = 0.0
    var reach = t0
    intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total / 1000.0
  }
}
