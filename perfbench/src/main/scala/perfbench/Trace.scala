package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-based tracer for the traced run. Events are kept only while
  * an operation marked as traced is running: the benchmark drains the
  * listener bus before and after each operation, so every recorded
  * event belongs to exactly one traced operation. Jobs are attributed
  * to the first `graft.*` frame of their call site.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  @volatile private var recording = false
  private var current: Op = _

  private val jobsById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val writeFileAccums = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val execLayers = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private val triggers = new ConcurrentLinkedQueue[Trigger]()

  private def add(key: String, v: Double): Unit = { counters.merge(key, v, (a, b) => a + b); () }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val details = e.stageInfos.headOption.map(_.details).getOrElse("")
      // Jobs that adaptive execution submits from its own threads carry
      // no pipeline frame; they take the layer of their SQL execution.
      val execLayer = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execLayers.get(id.toLong))).getOrElse("")
      val layer = Some(layerOf(details)).filter(_.nonEmpty).getOrElse(execLayer)
      val j = Job(e.jobId, layer, e.time, current.id, details.linesIterator.take(8).mkString(" | "))
      jobsById.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) {
      Option(jobsById.get(e.jobId)).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        val job = Option(stageToJob.get(e.stageId))
        val layer = job.map(_.layer).getOrElse("")
        job.foreach(j => add(s"op.${j.op}.tasks", 1))
        val cpu = m.executorCpuTime / 1e9
        val input = m.inputMetrics.bytesRead.toDouble
        add("task_cpu_s", cpu)
        add("gc_s", m.jvmGCTime / 1e3)
        add("shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("input_bytes", input)
        add("tasks", 1)
        val delay = (info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime).max(0L)
        add("sched_delay_s", delay / 1e3)
        add(s"$layer.task_cpu_s", cpu)
        add(s"$layer.input_bytes", input)
        add(s"$layer.tasks", 1)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (recording) e match {
      case s: SparkListenerSQLExecutionStart =>
        val layer = layerOf(s.details)
        execLayers.put(s.executionId, layer)
        add("plan_text_bytes", s.physicalPlanDescription.length.toDouble)
        writtenFileAccums(s.sparkPlanInfo).foreach(id => writeFileAccums.put(id, layer))
      case u: SparkListenerDriverAccumUpdates =>
        u.accumUpdates.foreach { case (id, v) =>
          Option(writeFileAccums.get(id)).foreach(layer => add(s"$layer.output_files", v.toDouble))
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (recording) phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, summary) =>
        add(s"sql.${phase}_ms", summary.durationMs.toDouble)
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (recording) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      triggers.add(Trigger(current.id, java.time.Instant.parse(p.timestamp).toEpochMilli,
        d, p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Runs `body` as operation `o`; records its events when `o.traced`. */
  def record[T](o: Op)(body: => T): T = {
    org.apache.spark.BusDrain(spark.sparkContext)
    current = o
    recording = o.traced
    try body finally {
      org.apache.spark.BusDrain(spark.sparkContext)
      recording = false
    }
  }

  def close(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def counter(key: String): Double = Option(counters.get(key)).map(_.doubleValue).getOrElse(0.0)
  def jobList: Seq[Job] = jobsById.values.asScala.toSeq.sortBy(_.id)
  def triggerList: Seq[Trigger] = triggers.asScala.toSeq
  /** Wall seconds of traced operations during which no job was running. */
  def outsideJobsSeconds(traced: Seq[Op]): Double = traced.map { o =>
    val spans = jobList.filter(_.op == o.id).map(j => (j.start.max(o.start), (if (j.end > 0) j.end else o.end).min(o.end)))
      .sortBy(_._1)
    var covered = 0L
    var reach = o.start
    spans.foreach { case (s, e) =>
      if (e > reach) { covered += e - s.max(reach); reach = e }
    }
    (o.end - o.start - covered) / 1e3
  }.sum

  /** Spans as JSON lines: one per operation and one per traced job. */
  def spanLines(ops: Seq[Op]): Seq[String] = {
    val opLines = ops.map { o =>
      val attrs = o.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""","$k":${Json.num(v)}""" }.mkString
      s"""{"kind":"op","id":${o.id},"name":"${o.name}","traced":${o.traced},"start_ms":${o.start},"end_ms":${o.end}$attrs}"""
    }
    val jobLines = jobList.map { j =>
      s"""{"kind":"job","id":${j.id},"parent":${j.op},"layer":"${j.layer}","start_ms":${j.start},"end_ms":${j.end},"site":${Json.str(j.site)}}"""
    }
    val trigLines = triggerList.map { t =>
      val d = t.durations.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"kind":"trigger","parent":${t.op},"start_ms":${t.start},"rows":${t.rows},"durations_ms":{$d}}"""
    }
    (opLines ++ jobLines ++ trigLines).toSeq
  }
}

object Trace {
  final case class Job(id: Int, layer: String, start: Long, op: Int, site: String) { @volatile var end = 0L }
  final case class Trigger(op: Int, start: Long, durations: Map[String, Long], rows: Long,
      stateRows: Long, stateCommitMs: Long)

  /** `graft.sinks.Writers$.dlqAppend(Writers.scala:55)` → `sinks.Writers`;
    * "" when no frame of the pipeline is on the call site.
    */
  def layerOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { frame =>
      val cls = frame.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
      cls.stripPrefix("graft.").takeWhile(_ != '$')
    }.getOrElse("")

  private def writtenFileAccums(p: SparkPlanInfo): Seq[Long] =
    p.metrics.filter(_.name == "number of written files").map(_.accumulatorId) ++
      p.children.flatMap(writtenFileAccums)
}
