package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.operators.FieldMapping
import graft.pipeline.{JdbcUpsert, SyncJob}
import graft.pipeline.PipelineRunner.PipelineSpec
import graft.streaming.SensorLoop
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** `ingest_stream`: the reference's own job, open loop.
  *
  * One generator thread lands zip + message files in `SensorLoop.start`'s
  * inbox at a fixed rate, then drops a burst all at once. Every file runs
  * through `PipelineRunner` (transform by the tenant's `FieldMapping`s,
  * enrich, persist to parquet). A second benchmark thread runs the
  * watermark sync in a closed loop: `SyncJob.rangedScan` over the files
  * persisted so far, `JdbcUpsert.write` into embedded Derby, then
  * `SyncJob.syncStats` and `advance`.
  */
object IngestWorkload {

  // files per second: about half the burst drain rate (2 to 3 files/s on a
  // 4-core box), so a batch finishes inside its trigger interval even when
  // the machine is loaded, and files do not queue behind a late batch
  val PacedRate = 1.25
  val BurstFiles = 12
  val WarmFiles = 2
  // Processing-time triggers fire at multiples of the interval since the
  // epoch; landings are scheduled at fixed phases of that grid, so each
  // file's wait for its micro-batch is the same from run to run
  val TriggerMs = 2000L
  val LandingPhaseMs = 100.0
  val ContactsPerFile = 20
  val TxnsPerFile = 40
  val SetupReps = 3
  val Entities = Seq("contact", "transaction")

  // ------------------------------------------------------------ tenants

  /** A tenant's source field names; its mapping turns them into the
    * canonical columns.
    */
  final case class Tenant(company: String, system: String, c: Map[String, String], t: Map[String, String]) {
    def mappings: Map[String, Seq[FieldMapping]] = Map(
      "contact" -> Seq(
        FieldMapping("_id['$oid']", "contact_id"),
        FieldMapping(c("ext"), "external_id"),
        FieldMapping("company_id", "company_id"),
        FieldMapping(c("name"), "full_name"),
        FieldMapping(c("email"), "email"),
        FieldMapping(s"${c("created")}['$$date']", "created_at", Some("timestamp")),
        FieldMapping("seq", "seq", Some("bigint"))),
      "transaction" -> Seq(
        FieldMapping("_id['$oid']", "txn_id"),
        FieldMapping(t("ext"), "external_id"),
        FieldMapping("company_id", "company_id"),
        FieldMapping(t("contact"), "contact_external_id"),
        FieldMapping(s"${t("amount")}['$$numberDecimal']", "amount", Some("decimal(18,2)")),
        FieldMapping(s"${t("ts")}['$$date']", "ts", Some("timestamp")),
        FieldMapping("seq", "seq", Some("bigint"))))
  }

  val Tenants: Seq[Tenant] = Seq(
    Tenant("c-001", "crm_x",
      Map("ext" -> "external_id", "name" -> "name", "email" -> "email", "created" -> "created_at"),
      Map("ext" -> "external_id", "contact" -> "contact_external_id", "amount" -> "amount", "ts" -> "ts")),
    Tenant("c-002", "crm_y",
      Map("ext" -> "ext_ref", "name" -> "full_name", "email" -> "lower(mail)", "created" -> "signup"),
      Map("ext" -> "ext_ref", "contact" -> "customer_ref", "amount" -> "total", "ts" -> "occurred_at")),
    Tenant("c-003", "erp_z",
      Map("ext" -> "external_id", "name" -> "concat_ws(' ', first_name, last_name)",
        "email" -> "email_address", "created" -> "created"),
      Map("ext" -> "external_id", "contact" -> "contact", "amount" -> "amt", "ts" -> "happened")))

  // ------------------------------------------------------------ generator

  /** Canonical rows of one file: what the pipeline must persist. */
  final case class FileData(seq: Int, tenant: Tenant, contacts: Seq[Seq[Any]], txns: Seq[Seq[Any]], zip: Array[Byte])

  private def iso(sec: Long): String = java.time.Instant.ofEpochSecond(sec).toString

  private def oid(rnd: scala.util.Random): String = f"${rnd.nextLong()}%016x${rnd.nextInt()}%08x"

  private def jsonStr(s: String): String = "\"" + s + "\""

  def makeFile(seed: Long, seq: Int): FileData = {
    val rnd = new scala.util.Random(seed * 1000003L + seq)
    val tenant = Tenants(seq % Tenants.size)
    val c = tenant.c
    val t = tenant.t
    val contactLines = mutable.ArrayBuffer.empty[String]
    val contacts = (0 until ContactsPerFile).map { i =>
      val o = oid(rnd)
      val ext = s"ext-$seq-$i"
      val first = Seq("Ada", "Grace", "Alan", "Edsger", "Barbara", "Ken")(rnd.nextInt(6))
      val last = Seq("Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Thompson")(rnd.nextInt(6))
      val mail = s"$first.$last$seq$i@Example.IO"
      val created = 1704067200L + rnd.nextInt(86400 * 365)
      val fields = tenant.system match {
        case "crm_x" => Seq("external_id" -> jsonStr(ext), "name" -> jsonStr(s"$first $last"),
          "email" -> jsonStr(mail.toLowerCase), "created_at" -> s"""{"$$date": "${iso(created)}"}""")
        case "crm_y" => Seq("ext_ref" -> jsonStr(ext), "full_name" -> jsonStr(s"$first $last"),
          "mail" -> jsonStr(mail), "signup" -> s"""{"$$date": "${iso(created)}"}""")
        case _ => Seq("external_id" -> jsonStr(ext), "first_name" -> jsonStr(first),
          "last_name" -> jsonStr(last), "email_address" -> jsonStr(mail.toLowerCase),
          "created" -> s"""{"$$date": "${iso(created)}"}""")
      }
      contactLines += (Seq("_id" -> s"""{"$$oid": "$o"}""", "company_id" -> jsonStr(tenant.company),
        "seq" -> i.toString) ++ fields).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      Seq(o, ext, tenant.company, s"$first $last", mail.toLowerCase, created * 1000000L, i.toLong)
    }
    val txnLines = mutable.ArrayBuffer.empty[String]
    val txns = (0 until TxnsPerFile).map { i =>
      val o = oid(rnd)
      val ext = s"txn-$seq-$i"
      val contact = s"ext-$seq-${rnd.nextInt(ContactsPerFile)}"
      val amount = BigDecimal(rnd.nextInt(1000000), 2)
      val ts = 1704067200L + rnd.nextInt(86400 * 365)
      txnLines += Seq(
        "_id" -> s"""{"$$oid": "$o"}""", "company_id" -> jsonStr(tenant.company), "seq" -> i.toString,
        t("ext") -> jsonStr(ext), t("contact") -> jsonStr(contact),
        t("amount") -> s"""{"$$numberDecimal": "$amount"}""",
        t("ts") -> s"""{"$$date": "${iso(ts)}"}""").map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      Seq(o, ext, tenant.company, contact, amount.toString, ts * 1000000L, i.toLong)
    }
    val bytes = new ByteArrayOutputStream()
    val zout = new ZipOutputStream(bytes)
    def member(name: String, body: String): Unit = {
      zout.putNextEntry(new ZipEntry(name))
      zout.write(body.getBytes(StandardCharsets.UTF_8))
      zout.closeEntry()
    }
    member("metadata.json", s"""{"workflow_system_name": "${tenant.system}", "company_id": "${tenant.company}"}""")
    member("contact.json", contactLines.mkString("\n"))
    member("transaction.json", txnLines.mkString("\n"))
    zout.close()
    FileData(seq, tenant, contacts, txns, bytes.toByteArray)
  }

  // ------------------------------------------------------------ one pipeline instance

  /** Per-file timing, epoch ms. */
  final class FileTimes {
    @volatile var scheduled = 0.0
    @volatile var landed = 0.0
    @volatile var specCall = 0.0
    @volatile var enrichFirst = 0.0
    @volatile var runId = ""
    @volatile var persisted = 0.0
    @volatile var synced = 0.0
    @volatile var tickStart = 0.0
  }

  final class Instance(spark: SparkSession, a: Args, rec: Recorder, rep: Int) {
    private val root = a.dir(s"ingest/rep$rep")
    private def sub(n: String): String = { val p = Paths.get(root, n); Files.createDirectories(p); p.toString }
    val inbox: String = sub("inbox")
    val staging: String = sub("staging")
    val zips: String = sub("zips")
    val sinkRoot: String = sub("sink")
    val db = s"perfbench_ingest_${ProcessHandle.current().pid()}_$rep"
    val url = s"jdbc:derby:memory:$db"
    val files = new ConcurrentHashMap[Int, FileData]()
    val times = new ConcurrentHashMap[Int, FileTimes]()
    private val wm = mutable.Map(Entities.map(_ -> SyncJob.Watermark(new java.sql.Timestamp(0L), -1L)): _*)
    @volatile var nextUnsynced = 0
    val recordsSynced = mutable.Map(Entities.map(_ -> 0L): _*)
    // the persisted table's schema, known to the sync job after its first
    // read, so later reads skip footer inference
    private val schemas = mutable.Map.empty[String, org.apache.spark.sql.types.StructType]

    private val conn = java.sql.DriverManager.getConnection(url + ";create=true")
    locally {
      val st = conn.createStatement()
      st.execute("CREATE TABLE ent_contact (contact_id VARCHAR(32), external_id VARCHAR(64), " +
        "company_id VARCHAR(16), full_name VARCHAR(128), email VARCHAR(128), created_at TIMESTAMP, " +
        "seq BIGINT, file_seq BIGINT, id BIGINT NOT NULL PRIMARY KEY, processing_ts TIMESTAMP)")
      st.execute("CREATE TABLE ent_transaction (txn_id VARCHAR(32), external_id VARCHAR(64), " +
        "company_id VARCHAR(16), contact_external_id VARCHAR(64), amount DECIMAL(18,2), ts TIMESTAMP, " +
        "seq BIGINT, file_seq BIGINT, id BIGINT NOT NULL PRIMARY KEY, processing_ts TIMESTAMP)")
      st.close()
    }

    private def sinkDir(seq: Int): String = s"$sinkRoot/f$seq"
    private def seqOf(path: String): Int = Paths.get(path).getFileName.toString.stripPrefix("f").stripSuffix(".zip").toInt

    /** `specFor`: the tenant's mappings and the entity-generic
      * enrichment (surrogate id, file sequence, processing timestamp).
      */
    private def specFor(runId: String, path: String): PipelineSpec = {
      val seq = seqOf(path)
      val ft = times.get(seq)
      ft.specCall = Clock.nowMs()
      ft.runId = runId
      rec.setFile(runId)
      val processingTs = java.sql.Timestamp.from(
        java.time.Instant.EPOCH.plus((ft.landed * 1000).toLong, java.time.temporal.ChronoUnit.MICROS))
      val enrich: DataFrame => DataFrame = { df =>
        if (ft.enrichFirst == 0.0) ft.enrichFirst = Clock.nowMs()
        df.withColumn("file_seq", lit(seq.toLong))
          .withColumn("id", lit(seq.toLong * 100000L) + col("seq"))
          .withColumn("processing_ts", lit(processingTs))
      }
      PipelineSpec(runId, files.get(seq).tenant.mappings, Entities.map(_ -> enrich).toMap, sinkDir(seq))
    }

    var query: StreamingQuery = _

    def start(): Unit =
      query = SensorLoop.start(spark, inbox, sub("checkpoint"), specFor,
        trigger = Trigger.ProcessingTime(TriggerMs), maxParallelFiles = a.cpus)

    /** Land one file: the zip first, then the message by write-to-temp
      * and atomic rename, so the file source never sees a partial one.
      */
    def land(f: FileData, scheduled: Double): Unit = {
      val ft = new FileTimes
      ft.scheduled = scheduled
      files.put(f.seq, f)
      times.put(f.seq, ft)
      val zip = Paths.get(zips, s"f${f.seq}.zip")
      Files.write(zip, f.zip)
      val msg = s"""{"s3_bucket": "local", "s3_file_path": "${zip.toUri}"}"""
      val tmp = Paths.get(staging, s"m${f.seq}.json")
      Files.write(tmp, msg.getBytes(StandardCharsets.UTF_8))
      ft.landed = Clock.nowMs()
      Files.move(tmp, Paths.get(inbox, s"m${f.seq}.json"), StandardCopyOption.ATOMIC_MOVE)
      ft.landed = (ft.landed + Clock.nowMs()) / 2
    }

    private def successMs(seq: Int, entity: String): Option[Double] = {
      val p = Paths.get(sinkDir(seq), entity, "_SUCCESS")
      if (Files.exists(p)) Some(Files.getLastModifiedTime(p).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0)
      else None
    }

    /** Landing-to-persisted time source: the later `_SUCCESS` of the
      * file's two entity sinks.
      */
    def persistedMs(seq: Int): Option[Double] = {
      val ms = Entities.map(successMs(seq, _))
      if (ms.forall(_.isDefined)) Some(ms.flatten.max) else None
    }

    /** One sync tick over the contiguous prefix of persisted files not
      * yet synced (a file persisted ahead of an earlier one waits, so
      * the watermark never passes rows still in flight). Returns the
      * number of files synced.
      */
    def tick(): Int = {
      val t0 = Clock.nowMs()
      var k = nextUnsynced
      while (times.containsKey(k) && persistedMs(k).isDefined) k += 1
      if (k == nextUnsynced) return 0
      val seqs = nextUnsynced until k
      rec.span("pipeline", "sync_tick", Map("files" -> seqs.size)) {
        Entities.foreach { entity =>
          val paths = seqs.map(s => s"${sinkDir(s)}/$entity")
          val df = schemas.get(entity).fold(spark.read)(spark.read.schema).parquet(paths: _*)
          schemas.getOrElseUpdate(entity, df.schema)
          val scan = SyncJob.rangedScan(df, "processing_ts", "id", wm(entity))
          // one writer task: concurrent JdbcUpsert writers into embedded
          // Derby lose or duplicate rows (Derby's MERGE race; the replay
          // after it does not restore a clean state), which the Derby
          // check below catches
          rec.span("pipeline", "jdbc_write", Map("entity" -> entity)) {
            JdbcUpsert.write(scan.coalesce(1), url, s"ent_$entity", Seq("id"), JdbcUpsert.Derby)
          }
          val stats = SyncJob.syncStats(scan, "processing_ts", "id", entity).cache()
          recordsSynced(entity) += stats.select("records_count").head().getLong(0)
          wm(entity) = SyncJob.advance(stats, wm(entity))
          stats.unpersist()
        }
      }
      val t1 = Clock.nowMs()
      seqs.foreach { s => val ft = times.get(s); ft.tickStart = t0; ft.synced = t1 }
      nextUnsynced = k
      seqs.size
    }

    def landedCount: Int = times.size

    def allSynced: Boolean = nextUnsynced == landedCount

    /** Tick until every landed file is synced (bounded). */
    def syncAll(deadlineMs: Double): Unit =
      while (!allSynced) {
        if (Clock.nowMs() > deadlineMs) throw new IllegalStateException(
          s"ingest: ${landedCount - nextUnsynced} file(s) not persisted and synced in time")
        if (tick() == 0) Thread.sleep(10)
      }

    def stop(): Unit = if (query != null) { query.stop(); query = null }

    def close(): Unit = {
      stop()
      try conn.close() catch { case _: Exception => () }
      try java.sql.DriverManager.getConnection(url + ";drop=true")
      catch { case _: java.sql.SQLException => () } // 08006 = dropped
    }

    // ------------------------------------------------------------ correctness

    private def rowsOf(rs: java.sql.ResultSet, n: Int): Seq[Seq[Any]] = {
      val out = mutable.ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) out += (1 to n).map(i => norm(rs.getObject(i)))
      out.toSeq
    }

    private def norm(v: Any): Any = v match {
      case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case d: java.math.BigDecimal => d.setScale(2).toPlainString
      case i: java.lang.Integer => i.longValue
      case other => other
    }

    /** Persisted and Derby rows equal the generator's own record of
      * every landed file, with no row missing or duplicated.
      */
    def check(): Seq[Map[String, Any]] = {
      val seqs = times.keySet.asScala.toSeq.sorted
      Entities.flatMap { entity =>
        val expected = seqs.flatMap { s =>
          val f = files.get(s)
          (if (entity == "contact") f.contacts else f.txns).map(r => r :+ s.toLong :+ (s.toLong * 100000L + r.last.asInstanceOf[Long]))
        }
        val cols = (if (entity == "contact") Seq("contact_id", "external_id", "company_id", "full_name", "email", "created_at")
                    else Seq("txn_id", "external_id", "company_id", "contact_external_id", "amount", "ts")) ++
          Seq("seq", "file_seq", "id")
        val persisted = spark.read.parquet(seqs.map(s => s"${sinkDir(s)}/$entity"): _*)
          .select(cols.map(col): _*).collect().map(r => r.toSeq.map(norm)).toSeq
        val st = conn.createStatement()
        val derby = rowsOf(st.executeQuery(s"SELECT ${cols.mkString(", ")} FROM ent_$entity"), cols.size)
        st.close()
        val want = expected.toSet
        def same(got: Seq[Seq[Any]]): Boolean =
          got.size == expected.size && got.toSet == want && got.distinct.size == got.size
        def detail(got: Seq[Seq[Any]]): String = {
          val have = got.toSet
          val dups = got.groupBy(identity).collect { case (r, rs) if rs.size > 1 => r }
          s"${got.size} rows, expected ${expected.size}; extra ${(have -- want).take(3)}; " +
            s"missing ${(want -- have).take(3)}; duplicated ${dups.take(3)}"
        }
        Seq(
          Map("name" -> s"persisted_$entity", "ok" -> same(persisted), "detail" -> detail(persisted)),
          Map("name" -> s"derby_$entity", "ok" -> same(derby), "detail" -> detail(derby)),
          Map("name" -> s"records_count_$entity", "ok" -> (recordsSynced(entity) == expected.size),
            "detail" -> s"records_count sum ${recordsSynced(entity)}, expected ${expected.size}"))
      }
    }
  }

  // ------------------------------------------------------------ workload

  def run(spark: SparkSession, a: Args, rec: Recorder, heap: LiveHeap): Map[String, Any] = {
    var seq = 0
    def nextFile(): FileData = { val f = makeFile(a.seed, seq); seq += 1; f }

    // set-up: fresh directories and Derby database, sensor started, a
    // few warm files persisted and synced; repeated, the last kept
    val setupS = mutable.ArrayBuffer.empty[Double]
    var inst: Instance = null
    for (r <- 1 to SetupReps) {
      if (inst != null) inst.close()
      seq = 0
      val t0 = Clock.nowMs()
      inst = new Instance(spark, a, rec, r)
      inst.start()
      (0 until WarmFiles).foreach(_ => inst.land(nextFile(), Clock.nowMs()))
      inst.syncAll(Clock.nowMs() + 120000)
      setupS += (Clock.nowMs() - t0) / 1000.0
    }
    val it = inst

    // timed: paced landings, then one burst; the sync loop runs beside
    val paced = (PacedRate * a.seconds).round.toInt
    val pacedFiles = (0 until paced).map(_ => nextFile())
    val burstFiles = (0 until BurstFiles).map(_ => nextFile())
    val firstMeasured = pacedFiles.head.seq
    heap.sample()
    val grid = (math.floor(Clock.nowMs() / TriggerMs) + 1) * TriggerMs
    val measureStart = grid + LandingPhaseMs
    @volatile var generatorDone = false
    @volatile var syncError: Throwable = null
    val syncThread = new Thread(() => {
      try {
        while (!generatorDone || !it.allSynced) {
          if (Clock.nowMs() - measureStart > 150000) throw new IllegalStateException("ingest: sync did not finish")
          if (it.tick() == 0) Thread.sleep(10)
        }
      } catch { case e: Throwable => syncError = e }
    }, "perfbench-sync")
    syncThread.start()
    val burstAt = (math.floor((measureStart + paced * 1000.0 / PacedRate) / TriggerMs) + 1) * TriggerMs + LandingPhaseMs
    try {
      pacedFiles.zipWithIndex.foreach { case (f, i) =>
        val due = measureStart + i * 1000.0 / PacedRate
        val wait = due - Clock.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        it.land(f, due)
      }
      val wait = burstAt - Clock.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong)
      burstFiles.foreach(f => it.land(f, burstAt))
    } finally generatorDone = true
    syncThread.join()
    if (syncError != null) throw syncError
    heap.sample()
    it.stop()

    val recs = (firstMeasured until seq).map { s =>
      val t = it.times.get(s)
      t.persisted = it.persistedMs(s).get
      (s, t)
    }
    val pacedRecs = recs.take(paced).map(_._2)
    val burstRecs = recs.drop(paced).map(_._2)
    val burstStart = burstRecs.map(_.landed).min
    val drainS = (burstRecs.map(_.persisted).max - burstStart) / 1000.0
    val checks = it.check()
    val fileRows = recs.map { case (s, t) =>
      Map("seq" -> s, "run" -> t.runId, "burst" -> (s - firstMeasured >= paced), "scheduled" -> t.scheduled,
        "landed" -> t.landed, "spec_call" -> t.specCall, "enrich_first" -> t.enrichFirst,
        "persisted" -> t.persisted, "tick_start" -> t.tickStart, "synced" -> t.synced)
    }
    it.close()
    Map(
      "setup_reps_s" -> setupS,
      "attempted" -> recs.size,
      "failed" -> 0,
      "latency_ms" -> pacedRecs.map(t => t.persisted - t.landed),
      "synced_ms" -> pacedRecs.map(t => t.synced - t.landed),
      "throughput_per_s" -> BurstFiles / drainS,
      "late_max_ms" -> pacedRecs.map(t => t.landed - t.scheduled).max,
      "measure_start" -> measureStart,
      "files" -> fileRows,
      "checks" -> checks,
    )
  }
}
