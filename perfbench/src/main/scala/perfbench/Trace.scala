package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskFailedReason
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-mode instrumentation, built only from Spark's public listeners and
  * the benchmark's own spans around each call into the engine. Counters and
  * spans stay in memory; [[writeSpans]] writes the spans when the run ends.
  *
  * Each operation labels its jobs with a job group equal to its span name.
  * Micro-batch jobs carry their stream's runId as job group instead, so the
  * runId is mapped to the operation that was running when the stream started.
  */
final class Tracer(spark: SparkSession) {
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private def add(name: String, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder).add(v)
  def count(name: String): Long = Option(counters.get(name)).fold(0L)(_.sum())

  final case class Span(name: String, parent: String, startMs: Long, endMs: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  def span(name: String, parent: String, startMs: Long, endMs: Long): Unit =
    spans.add(Span(name, parent, startMs, endMs))

  /** Span name of the operation that is running on the driver's main thread. */
  @volatile var currentOp: String = ""
  private val runIdToOp = new ConcurrentHashMap[String, String]()
  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
  /** Last reported state size per stream run: (rows, bytes). */
  private val stateByRun = new ConcurrentHashMap[String, (Long, Long)]()

  private def opOfGroup(group: String): String =
    Option(runIdToOp.get(group)).getOrElse(group)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobStarts.put(e.jobId, (e.time, group))
      add("sched.jobs", 1)
      add("sched.stages", e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, group) =>
        span(s"job ${e.jobId}", opOfGroup(group), start, e.time)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      if (e.reason.isInstanceOf[TaskFailedReason]) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_ms", m.executorRunTime)
        add("exec.cpu_ns", m.executorCpuTime)
        add("exec.gc_ms", m.jvmGCTime)
        add("exec.deserialize_ms", m.executorDeserializeTime)
        add("shuffle.read_b", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("shuffle.write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.write_ns", m.shuffleWriteMetrics.writeTime)
        add("spill.disk_b", m.diskBytesSpilled)
        add("spill.mem_b", m.memoryBytesSpilled)
        add("scan.input_b", m.inputMetrics.bytesRead)
        add("scan.input_rows", m.inputMetrics.recordsRead)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => add(s"plan.${p}_ms", s.durationMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      runIdToOp.put(e.runId.toString, currentOp)
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      add("streaming.batches", 1)
      if (p.numInputRows == 0) add("streaming.empty_batches", 1)
      add("streaming.input_rows", p.numInputRows)
      add("streaming.add_batch_ms", d("addBatch"))
      add("streaming.planning_ms", d("queryPlanning"))
      add("streaming.wal_ms", d("walCommit") + d("commitOffsets"))
      add("streaming.state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum)
      stateByRun.put(p.runId.toString,
        (p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + d("triggerExecution")
      span(s"batch ${p.batchId} of ${p.name}", opOfGroup(p.runId.toString),
        end - d("triggerExecution"), end)
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def start(): Unit = {
    org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every queued listener event was delivered, then detaches. */
  def stop(): Unit = {
    org.apache.spark.graft.BusDrain.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Final state size summed over every stream run: (rows, bytes). */
  def streamState: (Long, Long) =
    stateByRun.values.asScala.foldLeft((0L, 0L)) { case ((r, b), (r2, b2)) => (r + r2, b + b2) }

  /** Writes one JSON object per span. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      s"""{"name":${q(s.name)},"parent":${q(s.parent)},"start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
