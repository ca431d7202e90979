package perfbench

import graft.Engine

/** JVM side of one benchmark run (perfbench/run.py starts it).
  *
  * Starts the session, runs the workload, and writes `result.json` (raw
  * samples, set-up times, correctness verdicts) into `--run-dir`; a
  * traced run also writes `trace.json` for perfbench/spans.py. Any
  * exception or failed check exits non-zero.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val heap = new LiveHeap
    val t0 = Clock.nowMs()
    val spark = Engine.session(appName = s"perfbench-${a.workload}", cores = a.cpus.toString)
    val sessionS = (Clock.nowMs() - t0) / 1000.0
    val rec = new Recorder(spark, a.trace)
    val started = Clock.nowMs()
    val out = try {
      a.workload match {
        case "catalog_sf01" => CatalogWorkload.run(spark, a, rec, heap)
        case "ingest_stream" => IngestWorkload.run(spark, a, rec, heap)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(3)
    }
    val base = Map("workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus, "session_s" -> sessionS)
    if (a.trace) rec.dump(s"${a.runDir}/trace.json", base ++ Map("started" -> started))
    rec.close()
    Json.writeFile(s"${a.runDir}/result.json", base ++ out ++ Map("heap_peak_mb" -> heap.peakMb))
    spark.stop()
  }
}
