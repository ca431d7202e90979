package graft.pipeline

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.operators.{FieldMapping, MappingCompiler}
import graft.sources.ZipIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Run all entity branches concurrently; returns the per-step stats
    * captured by the listener (read/transform/persist timings + row
    * counts — the reference's stats-DB side channel, SURVEY §1.1).
    */
  def run(
      spark: SparkSession,
      entities: Map[String, DataFrame],
      spec: PipelineSpec,
      alertSink: AlertSink = new LogAlertSink,
  ): Seq[StepStat] = {
    val listener = new StatsListener(spec.runId, alertSink)
    spark.listenerManager.register(listener)
    implicit val ec: ExecutionContext = ExecutionContext.global
    try {
      // one DAG node per entity branch (transform+enrich+persist is ONE
      // Spark plan under lineage — no temp-file stages to schedule); the
      // scheduler provides the concurrency, the ALL_SUCCESS barrier, and
      // the failure alert hook (Dag.scala)
      val nodes = entities.map { case (entity, raw) =>
        entity -> (() => {
          val mapped = spec.mappings.get(entity).fold(raw)(m => MappingCompiler.transform(raw, m))
          val enriched = spec.enrichments.getOrElse(entity, identity[DataFrame] _)(mapped)
          enriched
            .observe(StatsListener.observeName(spec.runId, entity), count(lit(1)).as("rows"))
            .write.mode("overwrite").parquet(s"${spec.sinkDir}/$entity")
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
      // QueryExecutionListener callbacks are async; wait (bounded) until
      // every entity branch has reported its stats row
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (entities.keys.exists(e => !listener.snapshot.exists(_.step == e)) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      listener.snapshot
    } finally spark.listenerManager.unregister(listener)
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
