package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer observer for the traced passes. It watches the engine from
  * outside through its own `SparkListener`, `QueryExecutionListener` and
  * `StreamingQueryListener`, sums what they report per pass, and keeps
  * spans pass → query → {build, action} → job → stage.
  *
  * The harness attaches it for a traced pass, calls [[queryDone]] after
  * each query's action returns and before its between-query sweep, and
  * [[passDone]] after the pass. The listener bus is drained first, so
  * every event of a query is counted before the next query starts.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private var pass = new mutable.HashMap[String, Double]().withDefaultValue(0.0)
  private val passTotals = mutable.ArrayBuffer[collection.Map[String, Double]]()
  val spans = mutable.ArrayBuffer[Map[String, Any]]()

  // Events of the query in flight, cleared by queryDone.
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.ArrayBuffer[(String, Int, Long, Long)]()
  private val tasks = mutable.ArrayBuffer[(Long, Long)]()
  private val streamState = mutable.HashMap[java.util.UUID, (Double, Double)]()
  private var querySpans = 0.0

  private def add(k: String, v: Double): Unit = pass(k) += v
  private def max(k: String, v: Double): Unit = pass(k) = math.max(pass(k), v)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // Jobs a stream's own thread launches carry no phase; they run
      // inside an eager build call.
      val phase = prop(PhaseProperty).getOrElse("build")
      jobs += Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""), phase, e.time, e.time, e.stageIds)
      if (phase == "build") add("entry.build_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      add("spark.jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stages += ((s"${i.stageId}.${i.attemptNumber()}", i.stageId,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
      add("spark.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("spark.tasks", 1)
      if (e.reason != Success) add("spark.task_failures", 1)
      val info = e.taskInfo
      tasks += ((info.launchTime, info.finishTime))
      Option(e.taskMetrics).foreach { m =>
        add("ops.task_run_s", m.executorRunTime / 1e3)
        add("ops.task_cpu_s", m.executorCpuTime / 1e9)
        add("ops.gc_s", m.jvmGCTime / 1e3)
        add("ops.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        max("ops.peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
        add("sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spark.sched_delay_s", math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { planNodes(qe.executedPlan).foreach(countPlanNode) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val ms = (k: String) => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)
        add("streaming.batches", 1)
        add("streaming.batch_s", ms("triggerExecution") / 1e3)
        add("streaming.commit_s", (ms("walCommit") + ms("commitOffsets")) / 1e3)
        streamState(p.id) = (p.stateOperators.map(_.numRowsTotal.toDouble).sum,
          p.stateOperators.map(_.memoryUsedBytes / 1048576.0).sum)
      }
  }

  /** Registers the listeners for one traced pass. */
  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  private def countPlanNode(n: SparkPlan): Unit = {
    def metric(k: String) = n.metrics.get(k).fold(0.0)(_.value.toDouble)
    n match {
      case _: ShuffleExchangeExec => add("spark.exchanges", 1)
      case _: BroadcastExchangeExec => add("spark.broadcasts", 1)
      case _: FileSourceScanExec =>
        add("sources.files_read", metric("numFiles"))
        add("sources.scan_bytes", metric("filesSize"))
        add("sources.scan_time_s", metric("scanTime") / 1e3)
      case _: DataWritingCommandExec =>
        add("sources.write_bytes", metric("numOutputBytes"))
        add("sources.files_written", metric("numFiles"))
      case _ =>
    }
    n.expressions.foreach(_.foreach { e =>
      if (e.isInstanceOf[CodegenFallback]) add("functions.fallback_exprs", 1)
      if (e.getClass.getName.startsWith(KernelPackage)) add("functions.kernel_exprs", 1)
    })
  }

  /** Records the query that just returned (None if it failed). */
  def queryDone(name: String, exec: Option[Harness.Exec], passId: String): Unit = {
    PerfbenchBridge.drainListeners(sc)
    synchronized {
      add("blockstore.materialized_bytes",
        sc.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum)
      add("blockstore.materialized_rdds", sc.getPersistentRDDs.size)
      streamState.values.foreach { case (rows, mb) =>
        add("streaming.state_rows", rows); add("streaming.state_mem_mb", mb)
      }
      exec.foreach { x =>
        val q = s"$passId/$name"
        span(q, passId, "query", name, x.startMs, x.endMs)
        querySpans += x.endMs - x.startMs
        val phases = Map("build" -> (x.startMs, x.buildEndMs), "action" -> (x.buildEndMs, x.endMs))
        phases.foreach { case (ph, (s, e)) => span(s"$q/$ph", q, ph, name, s, e) }
        for ((ph, (s, e)) <- phases) {
          val inPhase = jobs.filter(_.phase == ph).map(j => (j.start.toDouble, j.end.toDouble))
          add(s"span.${ph}_self_s", (e - s - covered(inPhase, s, e)) / 1e3)
        }
        for (j <- jobs) {
          val id = s"job${j.id}"
          span(id, s"$q/${j.phase}", "job", j.group, j.start, j.end, "group" -> j.group)
          val own = stages.filter(st => j.stageIds.contains(st._2))
          own.foreach { case (sid, _, s, e) => span(s"stage$sid", id, "stage", name, s, e) }
          add("span.job_self_s",
            (j.end - j.start - covered(own.map(st => (st._3.toDouble, st._4.toDouble)), j.start, j.end)) / 1e3)
          add("span.stage_self_s", own.map(st => st._4 - st._3).sum / 1e3)
        }
        add("spark.driver_gap_s", (x.endMs - x.startMs -
          covered(tasks.map { case (s, e) => (s.toDouble, e.toDouble) }, x.startMs, x.endMs)) / 1e3)
      }
      jobs.clear(); stages.clear(); tasks.clear(); streamState.clear()
    }
  }

  def passDone(passId: String, startMs: Double, endMs: Double): Unit = synchronized {
    span(passId, "", "pass", passId, startMs, endMs)
    add("span.pass_self_s", (endMs - startMs - querySpans) / 1e3)
    passTotals += pass
    pass = new mutable.HashMap[String, Double]().withDefaultValue(0.0)
    querySpans = 0.0
  }

  private def span(id: String, parent: String, kind: String, name: String,
      start: Double, end: Double, extra: (String, Any)*): Unit =
    spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "start_ms" -> start, "end_ms" -> end) ++ extra

  /** Each layer's median per-pass value over the traced passes. The
    * build time and the ML queries' time (build call plus action of each
    * `ml_*` query) come from the harness's own clock. */
  def layers(passes: Seq[Seq[Harness.Exec]]): Map[String, Double] = {
    val perPass = passTotals.toSeq.zip(passes).map { case (t, p) =>
      t ++ Map("entry.build_s" -> p.map(_.buildS).sum,
        "ml.train_eval_s" -> p.filter(_.query.startsWith("ml_")).map(_.latencyS).sum)
    }
    (LayerNames ++ Seq("entry.build_s", "ml.train_eval_s"))
      .map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
  }
}

object Tracer {
  private final case class Job(id: Int, group: String, phase: String, start: Long,
      var end: Long, stageIds: Seq[Int])

  val PhaseProperty = "perfbench.phase"
  private val KernelPackage = "graft.functions."

  /** Every layer the listeners sum; a layer a workload never touches
    * reads 0. */
  val LayerNames: Seq[String] = Seq(
    "entry.build_jobs",
    "sources.scan_bytes", "sources.scan_rows", "sources.scan_time_s",
    "sources.files_read", "sources.write_bytes", "sources.files_written",
    "ops.task_run_s", "ops.task_cpu_s", "ops.gc_s", "ops.spill_bytes", "ops.peak_exec_mem_mb",
    "functions.fallback_exprs", "functions.kernel_exprs",
    "streaming.batches", "streaming.batch_s", "streaming.commit_s",
    "streaming.state_rows", "streaming.state_mem_mb",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_failures",
    "spark.sched_delay_s", "spark.driver_gap_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.fetch_wait_s",
    "spark.exchanges", "spark.broadcasts",
    "blockstore.materialized_bytes", "blockstore.materialized_rdds",
    "span.pass_self_s", "span.build_self_s",
    "span.action_self_s", "span.job_self_s", "span.stage_self_s")

  /** The plan nodes that ran: final AQE plans, query stages and
    * subqueries, each exchange once. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  /** Length of [lo, hi] covered by the union of the given intervals. */
  def covered(intervals: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val n = s.size; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}
