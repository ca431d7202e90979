package graft

import graft.operators.FieldMapping
import graft.pipeline._
import graft.pipeline.PipelineRunner.PipelineSpec
import graft.sources.ZipIngest
import org.apache.spark.sql.functions._

class ZipIngestSpec extends SparkSpec {

  test("zip fixture: metadata + per-entity json-lines members") {
    val dir = tmpDir("zipingest")
    val zip = dir.resolve("input.zip")
    Fixtures.writeZip(zip, Seq(
      "metadata.json" -> """{"workflow_system_name": "crm", "company_id": 42}""",
      "contact.json" -> Seq(
        """{"cid": {"$oid": "aa"}, "name": "alice", "created": {"$date": 1600000000000}}""",
        """{"cid": {"$oid": "bb"}, "name": "bob", "created": {"$date": 1600000001000}}""",
      ).mkString("\n"),
      "transaction.json" -> """{"tid": 1, "amount": {"$numberDecimal": "9.99"}}""",
    ))
    val payload = ZipIngest.read(spark, zip.toString)
    assert(payload.metadata === Map("workflow_system_name" -> "crm", "company_id" -> "42"))
    assert(payload.entities.keySet === Set("contact", "transaction"))
    assert(payload.entities("contact").count() === 2L)
    assert(payload.entities("transaction").count() === 1L)
  }

  test("driver-inferred member schema equals spark.read.json's; read rows match too") {
    import spark.implicits._
    val fixtures = Seq(
      "ext-JSON wrappers" -> Seq(
        """{"_id": {"$oid": "aa"}, "created": {"$date": 1600000000000}, "amount": {"$numberDecimal": "9.99"}}""",
        """{"_id": {"$oid": "bb"}, "created": {"$date": "2020-09-13T12:26:40Z"}, "amount": {"$numberDecimal": "10"}}"""),
      "nested, arrays, missing and all-null fields" -> Seq(
        """{"a": {"b": [1, 2], "c": {"d": "x"}}, "n": null, "e": []}""",
        """{"a": {"b": [], "c": null}, "e": [{"f": 1}, {"g": "y"}], "z": {}}""",
        """{"n": null, "m": [null], "e": [{"f": 2.5}]}"""),
      "int/double/string widening" -> Seq(
        """{"i": 1, "l": 1, "d": 1, "s": 1, "arr": [1]}""",
        """{"i": 2, "l": 12345678901234, "d": 2.5, "s": "two", "arr": [1.5, "x"]}""",
        """{"i": -3, "d": 1e300, "s": true, "arr": null}"""),
      "blank line" -> Seq("""{"a": 1}""", "", """{"a": 2, "b": "x"}""", "   "),
      "empty member" -> Seq.empty[String],
      "top-level array and scalar lines" -> Seq("""[{"a": 1}, {"a": 2}]""", "42", """{"b": "x"}"""),
      "malformed line" -> Seq("""{"a": 1}""", """{"a": """, """{"a": 3, "b": [1}"""),
    )
    val malformed = fixtures.toMap.apply("malformed line")
    val corruptKey = "spark.sql.columnNameOfCorruptRecord"
    def check(): Unit = fixtures.foreach { case (label, lines) =>
      val expected = spark.read.json(spark.createDataset(lines))
      assert(ZipIngest.inferSchema(spark, lines) === expected.schema, label)
      val zip = tmpDir("zipschema").resolve("in.zip")
      Fixtures.writeZip(zip, Seq("m.json" -> lines.mkString("\n")))
      val got = ZipIngest.read(spark, zip.toString).entities("m")
      assert(got.schema === expected.schema, label)
      assert(got.collect().toSeq === expected.collect().toSeq, label)
    }
    check()
    assert(ZipIngest.inferSchema(spark, malformed).fieldNames.contains("_corrupt_record"))
    spark.conf.set(corruptKey, "_bad")
    try {
      check()
      assert(ZipIngest.inferSchema(spark, malformed).fieldNames.contains("_bad"))
    } finally spark.conf.unset(corruptKey)
  }

  test("metadata parser flattens scalars, ignores nested") {
    val m = ZipIngest.parseMetadata("""{"a": "x", "n": 5, "f": 1.5, "b": true, "nested": {"k": 1}}""")
    assert(m === Map("a" -> "x", "n" -> "5", "f" -> "1.5", "b" -> "true"))
  }
}

class PipelineRunnerSpec extends SparkSpec {

  test("zip -> split -> transform -> enrich -> persist with concurrent branches, stats, and barrier") {
    val dir = tmpDir("pipeline")
    val zip = dir.resolve("input.zip")
    val sink = dir.resolve("sink").toString
    Fixtures.writeZip(zip, Seq(
      "metadata.json" -> """{"workflow_system_name": "crm", "company_id": 42}""",
      "contact.json" -> Seq(
        """{"cid": "c1", "name": "alice", "segment": "building"}""",
        """{"cid": "c2", "name": "bob", "segment": null}""",
      ).mkString("\n"),
      "transaction.json" -> Seq(
        """{"tid": 1, "amount": 9.99}""",
        """{"tid": 2, "amount": 1.25}""",
        """{"tid": 3, "amount": 4.50}""",
      ).mkString("\n"),
    ))
    val spec = PipelineSpec(
      runId = "run_test_1",
      mappings = Map(
        "contact" -> Seq(
          FieldMapping("cid", "contact_id"),
          FieldMapping("upper(name)", "full_name"),
          FieldMapping("segment", "segment", default = Some("'unknown'")),
        ),
        "transaction" -> Seq(
          FieldMapping("tid", "txn_id", Some("bigint")),
          FieldMapping("amount", "amount", Some("double")),
        ),
      ),
      enrichments = Map(
        "transaction" -> (df => df.withColumn("amount_cents", (col("amount") * 100).cast("bigint"))),
      ),
      sinkDir = sink,
    )
    val alerts = new LogAlertSink
    val stats = PipelineRunner.runFromZip(spark, zip.toString, spec, alerts)

    val contacts = spark.read.parquet(s"$sink/contact").orderBy("contact_id").collect()
    assert(contacts.map(_.toSeq).toSeq === Seq(
      Seq("c1", "ALICE", "building"), Seq("c2", "BOB", "unknown")))
    val txns = spark.read.parquet(s"$sink/transaction").orderBy("txn_id").collect()
    assert(txns.map(_.getAs[Long]("amount_cents")).toSeq === Seq(999L, 125L, 450L))

    // stats side-channel: one COMPLETED row per entity with observed rows
    val byStep = stats.filter(_.status == "COMPLETED").groupBy(_.step)
    assert(byStep.contains("contact") && byStep.contains("transaction"))
    assert(byStep("contact").exists(_.rows.contains(2L)))
    assert(byStep("transaction").exists(_.rows.contains(3L)))
    assert(alerts.alerts.isEmpty)
  }

  test("runFromZip starts one Spark job per entity and writes one part file each; a large member still splits") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = tmpDir("pipelinejobs")
    val zip = dir.resolve("input.zip")
    val sink = dir.resolve("sink").toString
    Fixtures.writeZip(zip, Seq(
      "metadata.json" -> """{"workflow_system_name": "crm", "company_id": 42}""",
      "contact.json" -> (1 to 20).map(i => s"""{"cid": "c$i", "name": "n$i"}""").mkString("\n"),
      "transaction.json" -> (1 to 40).map(i => s"""{"tid": $i, "amount": $i.5}""").mkString("\n"),
    ))
    val spec = PipelineSpec(
      runId = "run_jobs",
      mappings = Map(
        "contact" -> Seq(FieldMapping("cid", "contact_id"), FieldMapping("upper(name)", "full_name")),
        "transaction" -> Seq(FieldMapping("tid", "txn_id", Some("bigint")), FieldMapping("amount", "amount"))),
      sinkDir = sink,
    )
    // count every job start up to a marker job submitted after the run:
    // listener delivery is ordered, so seeing the marker means every
    // earlier job start has been delivered too
    val marker = "pipelinejobs-marker"
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == marker)) markerSeen.countDown()
        else { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      PipelineRunner.runFromZip(spark, zip.toString, spec)
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(markerSeen.await(30, TimeUnit.SECONDS), "marker job start never delivered")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() === 2, "one write job per entity: no schema-inference job, no cache job")
    for (entity <- Seq("contact", "transaction")) {
      val parts = new java.io.File(s"$sink/$entity").listFiles().map(_.getName).filter(_.startsWith("part-"))
      assert(parts.length === 1, s"$entity: ${parts.toSeq}")
    }
    assert(spark.read.parquet(s"$sink/transaction").count() === 40L)

    // partitions follow the member's bytes: over spark.sql.files.maxPartitionBytes
    // a member splits (up to defaultParallelism), without losing rows
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "256")
    val split = try ZipIngest.read(spark, zip.toString).entities("transaction") finally spark.conf.unset(key)
    val n = split.rdd.getNumPartitions
    assert(n > 1 && n <= spark.sparkContext.defaultParallelism, s"$n partitions")
    assert(split.count() === 40L)
  }

  test("failing branch raises after the barrier and the alert sink fires (dag_utils TODO)") {
    import spark.implicits._
    val dir = tmpDir("pipelinefail")
    val spec = PipelineSpec(
      runId = "run_test_2",
      mappings = Map("bad" -> Seq(FieldMapping("assert_true(x < 0, 'boom')", "chk"), FieldMapping("x", "x"))),
      sinkDir = dir.resolve("sink").toString,
    )
    val alerts = new LogAlertSink
    val bad = Seq(1L, 2L).toDF("x")
    intercept[Exception] {
      PipelineRunner.run(spark, Map("bad" -> bad), spec, alerts)
    }
    // the dag_utils TODO behavior: the failure fired exactly one alert,
    // attributed to THIS run and step, before run() threw
    import scala.jdk.CollectionConverters._
    assert(alerts.alerts.asScala.toSeq.map { case (r, s, _) => (r, s) } === Seq(("run_test_2", "bad")),
      alerts.alerts.asScala.toSeq.toString)
  }

  test("a failing run's FAILED row and alert stay scoped to that run under concurrency") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("pipelinefailscope")
    val goodSpec = PipelineSpec(
      runId = "runGood",
      mappings = Map("contact" -> Seq(FieldMapping("x", "x"))),
      sinkDir = dir.resolve("good").toString)
    val badSpec = PipelineSpec(
      runId = "runBad",
      mappings = Map("contact" -> Seq(FieldMapping("assert_true(x < 0, 'boom')", "chk"), FieldMapping("x", "x"))),
      sinkDir = dir.resolve("bad").toString)
    val alertsGood = new LogAlertSink
    val alertsBad = new LogAlertSink
    val goodF = Future(PipelineRunner.run(spark, Map("contact" -> (1L to 9L).toDF("x")), goodSpec, alertsGood))
    val badF = Future(PipelineRunner.run(spark, Map("contact" -> (1L to 3L).toDF("x")), badSpec, alertsBad))
    val statsGood = Await.result(goodF, 2.minutes)
    intercept[Exception](Await.result(badF, 2.minutes))
    // the bad run alerted under ITS id; the healthy run saw neither a
    // FAILED stats row nor an alert. Alerts fire synchronously from the
    // failing run's own Dag, so no late cross-fired alert can follow
    assert(alertsBad.alerts.asScala.exists { case (r, s, _) => r == "runBad" && s == "contact" },
      alertsBad.alerts.asScala.toSeq.toString)
    assert(alertsGood.alerts.asScala.isEmpty, alertsGood.alerts.asScala.toSeq.toString)
    assert(!statsGood.exists(_.status == "FAILED"), statsGood.toString)
    assert(statsGood.exists(s => s.status == "COMPLETED" && s.rows.contains(9L)))
  }

  test("two concurrent runs on one shared session never cross-attribute stats rows") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = tmpDir("pipelineconcurrent")
    // same ENTITY NAME in both runs: under the old bare step prefix this
    // is exactly the collision that swapped metrics between runs
    def spec(runId: String, sink: String) = PipelineSpec(
      runId = runId,
      mappings = Map("contact" -> Seq(FieldMapping("x", "x"))),
      sinkDir = sink,
    )
    val dfA = (1L to 7L).toDF("x")
    val dfB = (1L to 11L).toDF("x")
    val (statsA, statsB) = Await.result(
      Future(PipelineRunner.run(spark, Map("contact" -> dfA), spec("runA", dir.resolve("a").toString)))
        .zip(Future(PipelineRunner.run(spark, Map("contact" -> dfB), spec("runB", dir.resolve("b").toString)))),
      2.minutes)
    val a = statsA.filter(_.status == "COMPLETED")
    val b = statsB.filter(_.status == "COMPLETED")
    assert(a.map(s => (s.run_id, s.step, s.rows)) === Seq(("runA", "contact", Some(7L))))
    assert(b.map(s => (s.run_id, s.step, s.rows)) === Seq(("runB", "contact", Some(11L))))
  }

  test("ViewMaintain: insert/update/delete batches converge to the from-scratch join; replay is idempotent") {
    import spark.implicits._
    import graft.pipeline.ViewMaintain
    val dim = Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("d_key", "d_name")
    def b(rows: Seq[(Long, Long, Double, Long, Boolean)]) =
      rows.toDF("k", "fk", "price", "seq", "deleted")
    val batches = Seq(
      b(Seq((1L, 10L, 1.0, 0L, false), (2L, 20L, 2.0, 0L, false))),
      // update row 1's price AND re-point its fk; insert row 3
      b(Seq((1L, 30L, 9.0, 1L, false), (3L, 10L, 3.0, 1L, false))),
      // tombstone row 2; stale redelivery of row 1's ORIGINAL (seq 0)
      // must lose to the stored seq-1 state
      b(Seq((2L, 20L, 2.0, 2L, true), (1L, 10L, 1.0, 0L, false))),
    )
    val (fact, view) = ViewMaintain.foldBatches(
      batches, "k", "seq", "deleted", dim, "fk", "d_key")
    val gotFact = fact.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotFact === Set((1L, 30L, 9.0), (3L, 10L, 3.0)), gotFact.toString)
    val gotView = view.select("k", "price", "d_name")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(gotView === Set((1L, 9.0, "z"), (3L, 3.0, "x")),
      s"update re-joined to the NEW dim row, delete left the view: $gotView")
    // view equals the from-scratch join of the resolved fact at every fold
    val scratch = fact.join(dim, col("fk") === col("d_key"))
      .select("k", "price", "d_name")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(gotView === scratch)
    // replaying the last batch changes nothing (idempotence)
    val (f2, v2) = ViewMaintain.applyBatch(fact, view, batches.last,
      "k", "seq", "deleted", dim, "fk", "d_key")
    assert(f2.exceptAll(fact).isEmpty && fact.exceptAll(f2).isEmpty)
    assert(v2.exceptAll(view).isEmpty && view.exceptAll(v2).isEmpty)
    // malformed dim/fact column collision fails fast
    val e = intercept[IllegalArgumentException] {
      ViewMaintain.applyBatch(fact, view, batches.head, "k", "seq", "deleted",
        dim.withColumnRenamed("d_key", "k"), "fk", "k")
    }
    assert(e.getMessage.contains("collision"), e.getMessage)
  }

  test("ViewMaintain: a fact payload named __state doesn't collide with the pin tag; oversized dims skip the broadcast hint") {
    import spark.implicits._
    import graft.pipeline.ViewMaintain
    // applyBatch accepts ARBITRARY frames (catalog tables refuse __
    // names, raw DataFrames don't): the internal pinPair tag must not
    // shadow a user column literally named __state
    val dim = Seq((10L, "x"), (20L, "y")).toDF("d_key", "d_name")
    val batches = Seq(
      Seq((1L, 10L, 7L, 0L, false), (2L, 20L, 8L, 0L, false))
        .toDF("k", "fk", "__state", "seq", "deleted"),
      Seq((1L, 20L, 9L, 1L, false))
        .toDF("k", "fk", "__state", "seq", "deleted"),
    )
    val (fact, view) = ViewMaintain.foldBatches(
      batches, "k", "seq", "deleted", dim, "fk", "d_key")
    val gotFact = fact.select("k", "__state").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotFact === Set((1L, 9L), (2L, 8L)),
      s"the user __state payload must survive the pin round-trip: $gotFact")
    val gotView = view.select("k", "__state", "d_name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(gotView === Set((1L, 9L, "y"), (2L, 8L, "y")), gotView.toString)
    // broadcast gating: under a tiny cap the delta join must NOT carry
    // the explicit broadcast hint on the dim side (the planner decides)
    val capKey = "spark.graft.viewMaintain.broadcastDimBytes"
    spark.conf.set(capKey, "1")
    try {
      val (f2, v2) = ViewMaintain.applyBatch(fact, view, batches.last,
        "k", "seq", "deleted", dim, "fk", "d_key")
      // correctness unchanged either way
      assert(v2.select("k", "__state", "d_name").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet === gotView)
    } finally spark.conf.unset(capKey)
  }
}
