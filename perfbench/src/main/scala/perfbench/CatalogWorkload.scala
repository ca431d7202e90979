package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** `catalog_sf01`: analytical reads. A fixed list of `SparkEntry.queries`
  * entries, one client in a closed loop, each result sent to the noop
  * sink as `graft.Bench` does, after one untimed pass.
  */
object CatalogWorkload {

  /** Drawn from an untimed and a traced pass over every catalog entry on
    * these generated sf0.1 tables. Two entries are fixed: `q86`, which
    * reads a persisted index partitioned by bucket, and `q132`, which
    * launches 24 jobs. The other eight are one from each run of 30
    * consecutive entries ranked by traced wall time, chosen so that a pass
    * over the list matches the full pass in share of wall time outside
    * jobs, executor busy fraction, planning share, jobs per second and
    * first-run to warm-run time. The three entries that fail their DuckDB
    * check on these tables are left out. perfbench/README.md has the
    * figures.
    */
  val Queries: Seq[String] = Seq(
    "q86_phrase_search", "q132_bfs", "q110_profile", "q62_edit_blocking", "q28_lsh_candidates",
    "q150_attribution", "q225_hidden_partition", "q91_vocab_build", "q23_lang_id", "q16_scalar_string")

  /** One timed pass per this many seconds of `--seconds`. The pass
    * count depends only on `--seconds`, never on how fast the passes run,
    * so a faster program or a quieter machine does not also get more
    * samples to take the minimum over.
    */
  val SecondsPerPass = 6

  private def runOne(spark: SparkSession, name: String, dir: String): Unit =
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, a: Args, rec: Recorder, heap: LiveHeap): Map[String, Any] = {
    // set-up: run.py generated the tables into <run-dir>/data; one untimed
    // pass over the list (codegen, JIT, file listings, persisted indexes)
    // writes each result for run.py to compare with DuckDB on the query's
    // oracle SQL
    val dir = a.dir("data")
    val outDir = a.dir("check")
    val w0 = Clock.nowMs()
    Queries.foreach { name =>
      SparkEntry.queries(name)(spark, dir).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    Json.writeFile(s"$outDir/oracle_sql.json", SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) })
    val warmS = (Clock.nowMs() - w0) / 1000.0
    heap.sample()

    // timed: a fixed number of whole passes
    val passes = math.max(1, a.seconds / SecondsPerPass)
    val latencies = mutable.ArrayBuffer.empty[Double]
    for (pass <- 0 until passes; name <- Queries) {
      val s = Clock.nowMs()
      rec.span("queries", name, Map("pass" -> pass))(runOne(spark, name, dir))
      latencies += Clock.nowMs() - s
    }
    heap.sample()

    Map(
      "setup_reps_s" -> Seq(warmS),
      "attempted" -> latencies.size,
      "failed" -> 0,
      "latency_ms" -> latencies,
      "queries" -> Queries,
      "check" -> Map("kind" -> "duckdb", "data_dir" -> dir, "out_dir" -> outDir),
    )
  }
}
