package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.datasources.v2.V2CommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval on the epoch-millisecond clock. */
final case class Interval(start: Double, end: Double) {
  def length: Double = math.max(0.0, end - start)
}

object Intervals {
  /** Sorted, non-overlapping cover of `xs`. */
  def union(xs: Iterable[Interval]): Seq[Interval] =
    xs.filter(_.length > 0).toSeq.sortBy(_.start).foldLeft(List.empty[Interval]) {
      case (last :: rest, i) if i.start <= last.end =>
        Interval(last.start, math.max(last.end, i.end)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  def length(xs: Iterable[Interval]): Double = union(xs).map(_.length).sum

  def clip(xs: Iterable[Interval], window: Interval): Seq[Interval] =
    xs.map(i => Interval(math.max(i.start, window.start), math.min(i.end, window.end)))
      .filter(_.length > 0).toSeq

  /** Length of `a` not covered by `b`. */
  def minus(a: Iterable[Interval], b: Iterable[Interval]): Double =
    length(a ++ b) - length(b)
}

/** One recorded span: a request, a layer call or a Spark job/batch. */
final case class Span(request: String, name: String, parent: String,
                      start: Double, end: Double)

/** Everything the traced run measured for one query: per-layer values
  * keyed by metric name, and its spans. `outsideMs` is how far the farthest
  * job or Catalyst phase reached beyond the query's own interval before it
  * was clipped to it; 0 when every one lay inside. */
final case class QueryTrace(outsideMs: Double, counts: Map[String, Double],
                            spans: Seq[Span])

/** Listens to Spark's public listener interfaces and attributes every
  * event to the one query in flight (the load is a closed loop with one
  * client, so any job, SQL execution or micro-batch between a query's
  * start and end belongs to it). Installed only for traced passes. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val jobStarts = mutable.Map.empty[Int, Double]
  private val jobs = ArrayBuffer.empty[(Int, Interval)]
  private val phases = ArrayBuffer.empty[(String, Interval)]
  private val batches = ArrayBuffer.empty[(String, Interval)]
  private val streamState = mutable.Map.empty[String, (Double, Double)]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(key: String, v: Double): Unit = counts(key) += v

  def reset(): Unit = synchronized {
    jobStarts.clear(); jobs.clear(); phases.clear(); batches.clear()
    streamState.clear(); counts.clear()
  }

  // ---- exec: jobs, stages, tasks -----------------------------------------
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time.toDouble
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobs += e.jobId -> Interval(s, e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("exec.stages", 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_s", m.executorRunTime / 1e3)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.shuffle_read_mb",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
      add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("exec.spill_mb", m.diskBytesSpilled / 1e6)
      add("exec.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("storage.bytes_read_mb", m.inputMetrics.bytesRead / 1e6)
      add("storage.bytes_written_mb", m.outputMetrics.bytesWritten / 1e6)
    }
  }

  // ---- storage: file writes report their SQL metrics to the driver --------
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerDriverAccumUpdates => synchronized {
      val named = u.accumUpdates.flatMap { case (id, v) =>
        PerfbenchAccess.accumulatorName(id).map(_ -> v.toDouble) }
      named.collect { case ("number of written files", v) => v }.foreach { v =>
        add("storage.files_written", v)
        add("storage.write_commands", 1)
      }
    }
    case _ =>
  }

  // ---- catalyst: the executed query's own planning tracker ---------------
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    for ((phase, s) <- qe.tracker.phases if Set("analysis", "optimization", "planning")(phase))
      phases += phase -> Interval(s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    add("catalyst.non_codegen_ops", Probe.nonCodegenOps(qe.executedPlan, inStage = false))
  }

  // ---- streaming: micro-batches under their stream query ------------------
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        add("streaming.batches", 1)
        add("streaming.add_batch_s", d.getOrElse("addBatch", 0.0) / 1e3)
        add("streaming.query_planning_s", d.getOrElse("queryPlanning", 0.0) / 1e3)
        add("streaming.wal_commit_s", d.getOrElse("walCommit", 0.0) / 1e3)
        add("streaming.latest_offset_s", d.getOrElse("latestOffset", 0.0) / 1e3)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        batches += s"batch ${p.name} ${p.batchId}" ->
          Interval(start, start + d.getOrElse("triggerExecution", 0.0))
        // state at the end of the stream: the last batch's totals
        streamState(p.id.toString) = (p.stateOperators.map(_.numRowsTotal).sum.toDouble,
          p.stateOperators.map(_.memoryUsedBytes).sum / 1e6)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def uninstall(): Unit = {
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Closes the query `request` that ran from `t0` to `t2`, its build (the
    * `queries(name)(...)` call) ending at `t1`. Jobs take precedence over
    * Catalyst phases, which take precedence over build self time, and the
    * driver gap is what they leave of the execute call, so the four self
    * times partition the wall time by construction. A layer's keys appear in
    * `counts` only when its listener reported something for this query. */
  def close(request: String, t0: Double, t1: Double, t2: Double): QueryTrace = {
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    synchronized {
      val wall = Interval(t0, t2)
      val (buildW, execW) = (Interval(t0, t1), Interval(t1, t2))
      val jobIv = Intervals.clip(jobs.map(_._2), wall)
      def phase(name: String) = Intervals.clip(phases.collect { case (`name`, i) => i }, wall)
      val (an, opt, pl) = (phase("analysis"), phase("optimization"), phase("planning"))
      val analysis = Intervals.minus(an, jobIv)
      val optimization = Intervals.minus(opt, jobIv ++ an)
      val planning = Intervals.minus(pl, jobIv ++ an ++ opt)
      val busy = jobIv ++ an ++ opt ++ pl
      def self(w: Interval) = w.length - Intervals.length(Intervals.clip(busy, w))
      // a job still open at close reaches past t2
      val open = jobStarts.values.map(Interval(_, Harness.nowMs))
      val outside = (jobs.map(_._2) ++ open ++ phases.map(_._2))
        .map(i => math.max(t0 - i.start, i.end - t2)).foldLeft(0.0)(math.max)
      val buildJobs = jobs.count { case (_, i) => i.start >= t0 && i.start < t1 }
      def parent(i: Interval) = if (i.start < t1) "build" else "execute"
      val layers = Map("api.build_s" -> self(buildW) / 1e3, "driver.gap_s" -> self(execW) / 1e3) ++
        (if (phases.isEmpty) Map.empty else Map("catalyst.analysis_s" -> analysis / 1e3,
          "catalyst.optimization_s" -> optimization / 1e3, "catalyst.planning_s" -> planning / 1e3)) ++
        (if (jobs.isEmpty) Map.empty else Map("exec.jobs" -> jobs.size.toDouble,
          "api.build_jobs" -> buildJobs.toDouble, "exec.job_s" -> Intervals.length(jobIv) / 1e3)) ++
        (if (streamState.isEmpty) Map.empty else Map(
          "streaming.state_rows" -> streamState.values.map(_._1).sum,
          "streaming.state_mb" -> streamState.values.map(_._2).sum))
      val spans = Seq(Span(request, "request", "", t0, t2),
          Span(request, "build", "request", t0, t1),
          Span(request, "execute", "request", t1, t2)) ++
        phases.map { case (n, i) => Span(request, n, parent(i), i.start, i.end) } ++
        jobs.map { case (id, i) => Span(request, s"job $id", parent(i), i.start, i.end) } ++
        batches.map { case (n, i) => Span(request, n, "build", i.start, i.end) }
      QueryTrace(outside, counts.toMap ++ layers, spans)
    }
  }
}

object Probe {
  /** Physical operators that run outside whole-stage codegen, looking
    * through AQE stages and subqueries. Stage boundaries (exchanges, query
    * stages, input adapters) and command wrappers are not operators. */
  def nonCodegenOps(p: SparkPlan, inStage: Boolean): Int = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => nonCodegenOps(a.executedPlan, inStage = false)
      case s: QueryStageExec => nonCodegenOps(s.plan, inStage = false)
      case w: WholeStageCodegenExec => nonCodegenOps(w.child, inStage = true)
      case i: InputAdapter => nonCodegenOps(i.child, inStage = false)
      case _ => p.children.map(nonCodegenOps(_, inStage)).sum
    }
    val subqueries = p.subqueries.map(nonCodegenOps(_, inStage = false)).sum
    val counted = p match {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: WholeStageCodegenExec |
           _: InputAdapter | _: Exchange | _: ReusedExchangeExec |
           _: DataWritingCommandExec | _: ExecutedCommandExec | _: V2CommandExec |
           _: CommandResultExec | _: BaseSubqueryExec => 0
      case _ => if (inStage) 0 else 1
    }
    counted + below + subqueries
  }
}
