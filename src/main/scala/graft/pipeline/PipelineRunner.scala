package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue
import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.operators.{FieldMapping, MappingCompiler}
import graft.sources.ZipIngest
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** One pipeline step's run-stats row — the reference's stats-DB side
  * channel (parallelized_data_pipeline_dag.py:100,109,118,181-194).
  * `duration_ms` is the step's wall time; `rows` is the observed row
  * count, None if Spark's metrics never arrived.
  */
final case class StepStat(
    run_id: String,
    step: String,
    status: String,
    duration_ms: Long,
    rows: Option[Long],
)

/** Per-file ETL pipeline: read → split by entity → transform (mapping
  * schema) → enrich → persist, with concurrent entity branches and a
  * fan-in barrier — the Spark-native re-expression of
  * PARALLELIZED_DATA_PIPELINE_DAG (/root/reference/
  * parallelized_data_pipeline_dag.py:433-434: `read >> transform >>
  * enrich >> persist` per entity, both branches joined at the
  * complete-task).
  *
  * Where the reference materializes temp JSON files between every task
  * and re-reads them (:196-201,220-224 — its IR between worker
  * processes), here each branch is ONE logical plan: mapping projection
  * and enrichment fuse into the scan under whole-stage codegen, and the
  * only materialization is the sink write: over [[ZipIngest]]'s input a
  * branch is exactly one Spark job. The branches run as concurrent jobs,
  * each reading its own entity's input once, so nothing is cached; the
  * barrier is Await.all. With no temp files there is nothing for the
  * reference's temp-file GC task (:350-373) to clean.
  */
object PipelineRunner {

  /** Enrichment step: entity-generic DataFrame transform (the reference
    * uses one EnrichmentStep class for both entities,
    * parallelized_data_pipeline_dag.py:272,297).
    */
  type Enrich = DataFrame => DataFrame

  final case class PipelineSpec(
      runId: String,
      mappings: Map[String, Seq[FieldMapping]],
      enrichments: Map[String, Enrich] = Map.empty,
      sinkDir: String,
  )

  /** Run all entity branches concurrently; returns one COMPLETED
    * [[StepStat]] per entity (the reference's stats-DB side channel,
    * SURVEY §1.1). `duration_ms` is the branch's wall time (transform
    * + enrich + persist); `rows` comes from a Spark `Observation` on
    * the written Dataset — the count rides the write job, no second
    * scan. A failing branch fires `alertSink` once, from the Dag's
    * failure hook, before `run` rethrows its error after the barrier.
    */
  def run(
      spark: SparkSession,
      entities: Map[String, DataFrame],
      spec: PipelineSpec,
      alertSink: AlertSink = new LogAlertSink,
  ): Seq[StepStat] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val stats = new ConcurrentLinkedQueue[StepStat]
    // one DAG node per entity branch (transform+enrich+persist is ONE
    // Spark plan under lineage — no temp-file stages to schedule); the
    // scheduler provides the concurrency, the ALL_SUCCESS barrier, and
    // the failure alert hook (Dag.scala)
    val nodes = entities.map { case (entity, raw) =>
      entity -> (() => {
        val t0 = System.nanoTime()
        val mapped = spec.mappings.get(entity).fold(raw)(m => MappingCompiler.transform(raw, m))
        val enriched = spec.enrichments.getOrElse(entity, identity[DataFrame] _)(mapped)
        // a fresh Observation per attempt: one attaches to one Dataset
        // only, so a Dag retry needs its own
        val obs = Observation()
        enriched.observe(obs, count(lit(1)).as("rows"))
          .write.mode("overwrite").parquet(s"${spec.sinkDir}/$entity")
        val durationMs = (System.nanoTime() - t0) / 1000000L
        // Spark completes the observation from its own query listener,
        // normally within milliseconds of the write; metrics that never
        // arrive cost the row count, never the committed step
        val rows = Try(Await.result(obs.future, 30.seconds).getLong(0)).toOption
        stats.add(StepStat(spec.runId, entity, "COMPLETED", durationMs, rows)): Unit
      })
    }
    val result = Dag.run(Dag.Spec(
      nodes = nodes,
      edges = Seq.empty, // branches are independent; Dag.run awaits all
      onFailure = (step, e) => alertSink.alert(spec.runId, step, e.getMessage)))
    if (!result.succeeded) {
      val firstError = result.states.values.collectFirst { case Dag.FailedState(e, _) => e }
      throw firstError.getOrElse(new RuntimeException(s"pipeline ${spec.runId} failed: ${result.states}"))
    }
    stats.asScala.toSeq
  }

  /** Full reference topology for one file: zip → metadata → entity
    * split → branches (the SQS_SENSOR_DAG fan-out target,
    * sqs_sensor_dag.py:85-109).
    */
  def runFromZip(
      spark: SparkSession,
      zipPath: String,
      spec: PipelineSpec,
      alertSink: AlertSink = new LogAlertSink,
  ): Seq[StepStat] = {
    val payload = ZipIngest.read(spark, zipPath)
    run(spark, payload.entities, spec, alertSink)
  }
}
