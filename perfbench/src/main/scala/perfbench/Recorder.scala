package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw trace of a traced run: spans the benchmark opens around each
  * call into a layer, plus what three public Spark listener APIs report
  * (jobs and task metrics, SQL executions with planning phases, graft
  * rule time and observed-metric names, streaming progress). Nothing is derived here;
  * perfbench/spans.py turns the dump into per-layer metrics.
  *
  * Every recording method is a no-op on untraced runs, so workloads
  * call them unconditionally and untraced runs register no listener.
  */
final class Recorder(spark: SparkSession, val enabled: Boolean) {
  import Recorder._

  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val sql = new ConcurrentHashMap[Long, SqlRec]

  final class JobRec(val id: Int, val startMs: Long, val execId: Option[Long], val file: Option[String]) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    def toMap: Map[String, Any] = Map(
      "id" -> id, "start" -> startMs, "end" -> endMs,
      "exec" -> execId, "file" -> file, "tasks" -> tasks,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes, "input_bytes" -> inputBytes)
  }

  final class SqlRec(val id: Long) {
    @volatile var startMs: Long = -1L
    @volatile var endMs: Long = -1L
    @volatile var planningMs: Double = 0.0
    @volatile var graftRulesMs: Double = 0.0
    @volatile var observed: Seq[String] = Nil
    @volatile var func: String = ""
    def toMap: Map[String, Any] = Map(
      "id" -> id, "start" -> startMs, "end" -> endMs, "planning_ms" -> planningMs,
      "graft_rules_ms" -> graftRulesMs, "observed" -> observed, "func" -> func)
  }

  private def sqlRec(id: Long): SqlRec = sql.computeIfAbsent(id, _ => new SqlRec(id))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val file = props.flatMap(p => Option(p.getProperty(FileProperty)))
      jobs.put(e.jobId, new JobRec(e.jobId, e.time, exec, file))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
        j.synchronized {
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled
            j.inputBytes += m.inputMetrics.bytesRead
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlRec(s.executionId).startMs = s.time
      case s: SparkListenerSQLExecutionEnd =>
        val r = sqlRec(s.executionId)
        r.endMs = s.time
        Option(pending.getAndSet(null)).foreach(_(r))
      case _ =>
    }
  }

  // The QueryExecutionListener runs on the shared listener queue while it
  // delivers an SQL execution's end event, just before `jobListener` sees
  // the same event. `qe.id` is not always the execution id of the events
  // (a command runs under a second QueryExecution), so the callback's
  // findings wait here and attach to the execution whose end comes next.
  private val pending = new java.util.concurrent.atomic.AtomicReference[SqlRec => Unit]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planningMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      val graftRulesMs = qe.tracker.rules.collect {
        case (rule, summary) if rule.startsWith("graft.") => summary.totalTimeNs
      }.sum / 1e6
      val observed = qe.observedMetrics.keys.toSeq
      pending.set { r =>
        r.func = funcName
        r.planningMs = planningMs
        r.graftRulesMs = graftRulesMs
        r.observed = observed
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      pending.set(_.func = funcName)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      events.add(Map(
        "kind" -> "progress",
        "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "batch_ms" -> p.batchDuration,
        "latest_offset_ms" -> Option(p.durationMs.get("latestOffset")).map(_.longValue).getOrElse(0L),
        "rows" -> p.numInputRows))
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Record `body` as one span of `layer`. */
  def span[T](layer: String, name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = Clock.nowMs()
      try body
      finally spans.add(Map("layer" -> layer, "name" -> name, "start" -> t0, "end" -> Clock.nowMs()) ++ attrs)
    }

  /** Tag jobs submitted from the CURRENT thread with `value`. */
  def setFile(value: String): Unit =
    if (enabled) spark.sparkContext.setLocalProperty(FileProperty, value)

  /** Wait until the listener buses have delivered everything submitted
    * so far: run one small SQL action and wait for every job's end and
    * for that action's QueryExecutionListener callback.
    */
  def drain(): Unit = if (enabled) {
    val before = Clock.nowMs()
    spark.range(1).selectExpr("id").collect()
    val deadline = System.nanoTime() + 30L * 1000000000L
    def settled: Boolean = {
      val js = jobs.values.asScala
      js.forall(_.endMs >= 0) &&
        sql.values.asScala.exists(r => r.startMs >= before.toLong - 1 && r.func.nonEmpty)
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def dump(path: String, extra: Map[String, Any]): Unit = {
    drain()
    Json.writeFile(path, extra ++ Map(
      "spans" -> spans.asScala.toSeq,
      "events" -> events.asScala.toSeq,
      "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(_.toMap),
      "sql" -> sql.values.asScala.toSeq.sortBy(_.id).map(_.toMap)))
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Recorder {
  /** Local property the ingest workload's `specFor` sets on the run thread. */
  val FileProperty = "perfbench.file"
}
