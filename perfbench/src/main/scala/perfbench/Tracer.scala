package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Listeners of one traced pass. Jobs are tied to the build or execute
  * span that was current on the submitting thread through the
  * [[Tracer.SpanKey]] local property; tasks are tied to jobs through their
  * stage. Catalyst phase times come from each action's
  * QueryPlanningTracker, compile counts from Spark's CodegenMetrics. */
final class Tracer private (spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private final class JobRec(val span: Long, val startMs: Long) {
    var endMs = startMs
    var stages, tasks, failedTasks = 0
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, fetchMs, spill, result = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[BlockId, Long]
  private var blockNow, blockPeak = 0L
  private var analysisMs, optimizationMs, planningMs = 0L
  private val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def attach(): this.type = {
    blockNow = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    blockPeak = blockNow
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      jobs(e.jobId) = new JobRec(s.toLong, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        j.spill += m.diskBytesSpilled
        j.result += m.resultSize
      }
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      blockNow += size - blocks.getOrElse(i.blockId, 0L)
      if (size == 0L) blocks.remove(i.blockId) else blocks(i.blockId) = size
      blockPeak = math.max(blockPeak, blockNow)
    }
  }
  def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
  def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
  private def planned(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    analysisMs += p.get("analysis").fold(0L)(_.durationMs)
    optimizationMs += p.get("optimization").fold(0L)(_.durationMs)
    planningMs += p.get("planning").fold(0L)(_.durationMs)
  }

  /** Stops listening and returns the pass's per-layer metrics; adds one
    * job span below the build or execute span that issued each job.
    * Span coverage is the share of the pass span that its query spans
    * cover. `passS` is the pass's wall time (the sum of its query spans);
    * `queries` holds (query, query span, build span, execute span) of its
    * successful executions. */
  def detach(spark: SparkSession, spans: Spans, passSpan: Long, passS: Double,
      queries: Seq[(String, Long, Long, Long)], moduleOf: Map[String, String])
      : Map[String, Double] = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMeanMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    synchronized {
      val all = jobs.values.toSeq
      val mb = 1048576.0
      val cores = spark.sparkContext.defaultParallelism
      all.foreach { j =>
        spans.addEpoch(j.span, "job", "job", j.startMs, j.endMs, Map(
          "stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
          "task_s" -> j.runMs / 1e3, "shuffle_write_mb" -> j.shuffleWrite / mb))
      }
      def sum(f: JobRec => Double, js: Seq[JobRec] = all): Double = js.map(f).sum
      val byPhase = all.groupBy(_.span)
      var driverSelf = 0.0
      val module = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for ((name, qs, bs, es) <- queries) {
        val (a, b) = spans.bounds(qs)
        val qjobs = Seq(bs, es).flatMap(byPhase.getOrElse(_, Nil))
        val jobIntervals = spans.children(bs) ++ spans.children(es)
        driverSelf += ((b - a) - spans.covered(jobIntervals, a, b)) / 1e9
        val m = moduleOf(name)
        module(s"$m.build_s") += spans.seconds(bs)
        module(s"$m.execute_s") += spans.seconds(es)
        module(s"$m.jobs") += qjobs.size
        module(s"$m.task_s") += sum(_.runMs / 1e3, qjobs)
        module(s"$m.shuffle_mb") += sum(_.shuffleWrite / mb, qjobs)
      }
      val taskS = sum(_.runMs / 1e3)
      module.toMap ++ Map(
        "spark.catalyst.analysis_ms" -> analysisMs.toDouble,
        "spark.catalyst.optimization_ms" -> optimizationMs.toDouble,
        "spark.catalyst.planning_ms" -> planningMs.toDouble,
        "spark.codegen.compiles" -> compiles.toDouble,
        "spark.codegen.compile_ms" -> compiles * compileMeanMs,
        "spark.scheduler.jobs" -> all.size.toDouble,
        "spark.scheduler.stages" -> sum(_.stages),
        "spark.scheduler.tasks" -> sum(_.tasks),
        "spark.scheduler.failed_tasks" -> sum(_.failedTasks),
        "spark.executor.task_s" -> taskS,
        "spark.executor.cpu_s" -> sum(_.cpuNs / 1e9),
        "spark.executor.gc_s" -> sum(_.gcMs / 1e3),
        "spark.executor.core_util" -> taskS / (passS * cores),
        "spark.shuffle.write_mb" -> sum(_.shuffleWrite / mb),
        "spark.shuffle.read_mb" -> sum(_.shuffleRead / mb),
        "spark.shuffle.fetch_wait_s" -> sum(_.fetchMs / 1e3),
        "spark.memory.spill_mb" -> sum(_.spill / mb),
        "spark.storage.cached_mb" -> blockPeak / mb,
        "driver.self_s" -> driverSelf,
        "driver.result_mb" -> sum(_.result / mb),
        "bench.span_coverage" -> {
          val (a, b) = spans.bounds(passSpan)
          spans.covered(spans.children(passSpan), a, b).toDouble / (b - a)
        })
    }
  }
}

object Tracer {
  /** Local property carrying the id of the span that submits a job. */
  val SpanKey = "perfbench.span"

  def attach(spark: SparkSession): Tracer = new Tracer(spark).attach()
}
