package graft.tools

import graft.Engine
import org.apache.spark.sql.DataFrame

/** Ad-hoc perf probe for the open q130 mix question: runs the
  * expensive-query mix with the noop sink and reports q130's stage
  * memory and time, dedicated vs mixed. Dev tooling only — nothing here
  * is a declared query or changes one.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Probe q130mix [reps]"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(appName = "graft-probe")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    args.headOption.getOrElse("q130mix") match {
      case "q130mix" =>
        // VERDICT r20 #1: name q130's interleaved-mix constant with
        // MEMORY evidence — accumulate per-job-description task metrics
        // (spill bytes, summed per-task peak execution memory, executor
        // run/GC time) and compare q130's own stages dedicated vs mixed.
        val agg = new scala.collection.concurrent.TrieMap[String, Array[Long]]
        val stageToDesc = new scala.collection.concurrent.TrieMap[Int, String]
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
            js.stageIds.foreach(id => stageToDesc.put(id, desc))
          }
          override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val d = stageToDesc.getOrElse(sc.stageInfo.stageId, "")
            val m = sc.stageInfo.taskMetrics
            val cur = agg.getOrElseUpdate(d, Array.fill(5)(0L))
            cur(0) += m.memoryBytesSpilled
            cur(1) += m.diskBytesSpilled
            cur(2) += m.peakExecutionMemory // summed per-task peaks
            cur(3) += m.executorRunTime
            cur(4) += m.jvmGCTime
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val mix = Seq("q121_pagerank", "q160_jaccard_prefix", "q26_ngram_jaccard",
          "q60_corpus_curation", "q98_phrase_build", "q108_bm25_build",
          "q217_substring_dedup", "q130_basket_pairs")
        def runQ(tag: String, n: String): Double = {
          spark.sparkContext.setJobDescription(s"$tag:$n")
          val t0 = System.nanoTime()
          noop(graft.SparkEntry.queries(n)(spark, sfDir))
          spark.sparkContext.setJobDescription(null)
          (System.nanoTime() - t0) / 1e9
        }
        def report(tag: String, secs: Seq[Double]): Unit = {
          val m = agg.getOrElse(s"$tag:q130_basket_pairs", Array.fill(5)(0L))
          println(f"[q130mix] $tag%-10s q130 min ${secs.min}%7.3f s (of ${secs.size});" +
            f" spillMem=${m(0) / 1e6}%9.1f MB spillDisk=${m(1) / 1e6}%9.1f MB" +
            f" peakExecSum=${m(2) / 1e6}%9.1f MB runTime=${m(3) / 1000.0}%8.2f s gc=${m(4) / 1000.0}%6.2f s")
        }
        val ded = (1 to reps).map(_ => runQ("dedicated", "q130_basket_pairs"))
        report("dedicated", ded)
        val mixed = (1 to reps).map { _ =>
          var q130 = 0.0
          mix.foreach { n =>
            val s = runQ("mix", n); if (n == "q130_basket_pairs") q130 = s
          }
          q130
        }
        report("mix", mixed)
      case other => sys.error(s"unknown probe: $other")
    }
    spark.stop()
  }
}
