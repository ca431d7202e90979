package graft

import graft.sources.{ManifestTable, MemberIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._

/** The DSv2 TableCatalog ([[graft.sources.GraftCatalog]]): SQL against
  * `graft.<ns>.<table>` with no view registration, VERSION AS OF time
  * travel, and manifest pruning (envelopes + Bloom) engaged inside the
  * V2 scan builder.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = tmpDir("graft-warehouse").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", w)
    w
  }

  private def mkTable(ns: String, name: String, files: Int = 5): String = {
    val dir = s"$warehouse/$ns/$name"
    new java.io.File(dir).mkdirs()
    val df = (1 to 1000).map(i => (i.toLong, ((i * 613) % 1000).toLong, s"s${i % 13}"))
      .toDF("id", "k", "cat")
    ManifestTable.commit(df.repartitionByRange(files, $"id"), dir, track = Seq("id"))
    dir
  }

  /** Files the executed V2 plan will open. */
  private def scannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => (b.scan match {
        case g: graft.sources.GraftLakeScan => g.underlying
        case o => o
      }) match {
        case p: ParquetScan => p.fileIndex.inputFiles.toSeq
        case _ => Seq.empty
      }
    }.flatten

  test("SELECT through the catalog: no view registration, committed schema, correct rows") {
    val dir = mkTable("lake", "items")
    val got = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM graft.lake.items").head()
    assert(got.getLong(0) == 1000 && got.getLong(1) == (1L to 1000L).sum)
    // identical to the API read
    val api = ManifestTable.snapshot(spark, dir).agg(count(lit(1)), sum("id")).head()
    assert(api.getLong(0) == 1000 && api.getLong(1) == got.getLong(1))
  }

  test("VERSION AS OF rides the engine's time-travel syntax") {
    val dir = mkTable("lake", "tt")
    ManifestTable.commit(Seq((2000L, 0L, "x")).toDF("id", "k", "cat"), dir, Seq("id"))
    assert(spark.sql("SELECT count(*) FROM graft.lake.tt").head().getLong(0) == 1001)
    assert(spark.sql("SELECT count(*) FROM graft.lake.tt VERSION AS OF 1").head().getLong(0) == 1000)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft.lake.tt VERSION AS OF 99").collect())
    assert(e.getMessage.contains("99"))
  }

  test("VERSION AS OF '<tag>' resolves immutable named refs through SQL") {
    val dir = mkTable("lake", "tagged")
    ManifestTable.commit(Seq((2001L, 0L, "x")).toDF("id", "k", "cat"), dir, Seq("id"))
    ManifestTable.tag(dir, "pre-load", 1L)
    assert(spark.sql("SELECT count(*) FROM graft.lake.tagged VERSION AS OF 'pre-load'")
      .head().getLong(0) == 1000)
    assert(spark.sql("SELECT count(*) FROM graft.lake.tagged").head().getLong(0) == 1001)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft.lake.tagged VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("neither a numeric snapshot version, a tag, nor a branch"))
  }

  test("TIMESTAMP AS OF resolves monotonized commit clocks; SHOW NAMESPACES lists warehouse dirs") {
    val dir = mkTable("lake", "ts_travel")
    Thread.sleep(1100)
    val mid = java.time.format.DateTimeFormatter
      .ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    Thread.sleep(1100)
    ManifestTable.commit(Seq((3000L, 0L, "x")).toDF("id", "k", "cat"), dir, Seq("id"))
    assert(spark.sql(s"SELECT count(*) FROM graft.lake.ts_travel TIMESTAMP AS OF '$mid'")
      .head().getLong(0) == 1000, "mid-history timestamp must resolve to v1")
    assert(spark.sql("SELECT count(*) FROM graft.lake.ts_travel").head().getLong(0) == 1001)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft.lake.ts_travel TIMESTAMP AS OF '1999-01-01 00:00:00'")
        .collect())
    assert(e.getMessage.contains("predates"))
    // namespaces: the lake dir lists; tables do not appear as namespaces
    val ns = spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).toSet
    assert(ns.contains("lake"), s"got $ns")
    spark.sql("CREATE NAMESPACE graft.newns")
    val ns2 = spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).toSet
    assert(ns2.contains("newns"), s"got $ns2")
    spark.sql("DROP NAMESPACE graft.newns")
  }

  test("range predicates prune files inside the V2 scan; result bit-identical") {
    mkTable("lake", "pruned")
    val q = spark.sql("SELECT id, cat FROM graft.lake.pruned WHERE id BETWEEN 100 AND 199")
    val files = scannedFiles(q)
    assert(files.nonEmpty && files.size < 5,
      s"V2 scan must open only overlapping files, opened ${files.size}/5")
    assert(q.count() == 100)
    // rows identical to the unpruned raw read
    val raw = ManifestTable.snapshot(spark, mkTableDir("lake", "pruned"))
      .filter($"id".between(100L, 199L)).select("id", "cat")
    assert(q.orderBy("id").collect().toSeq == raw.orderBy("id").collect().toSeq)
  }

  private def mkTableDir(ns: String, name: String): String = s"$warehouse/$ns/$name"

  test("envelope statistics feed the CBO: exact row counts, min/max, index NDV; a selective filter flips the join to broadcast") {
    warehouse: Unit
    // fact: 40k rows, keys tracked so envelopes exist; two dims whose
    // PARQUET sizes are deliberately misleading (the small dim carries
    // a fat payload column) — only real row/column statistics tell the
    // optimizer which side is the cheap build side
    // the filler column makes the PARQUET bytes big (so size-only
    // estimation can never call the filtered fact small) while the
    // queries below never read it (so the CBO's row-level estimate is
    // what shrinks); keys scatter across all files, so file-level
    // envelope pruning removes nothing either — statistics or bust
    spark.sql("CREATE TABLE graft.lake.cfact PARTITIONED BY (k1, k2) AS " +
      "SELECT id % 200 AS k1, id % 10 AS k2, id AS payload, " +
      "concat(md5(CAST(id AS STRING)), md5(CAST(id + 7 AS STRING))) AS filler " +
      "FROM range(100000) DISTRIBUTE BY id % 8")
    spark.sql("CREATE TABLE graft.lake.cdim AS " +
      "SELECT id AS k, CAST(id AS STRING) AS attr FROM range(200)")
    val factDir = mkTableDir("lake", "cfact")
    MemberIndex.build(spark, factDir, "k1")
    val prev = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val stats = spark.table("graft.lake.cfact")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(100000)),
        s"manifest row count must reach the CBO, got ${stats.rowCount}")
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      val k1 = byName.getOrElse("k1", fail(s"no k1 column stats in $byName"))
      assert(k1.min.contains(0L) && k1.max.contains(199L),
        s"envelope min/max must surface: $k1")
      val ndv = k1.distinctCount.getOrElse(fail(s"no NDV from the member index: $k1"))
      assert(ndv >= BigInt(150) && ndv <= BigInt(260),
        s"Bloom-fill NDV estimate must land near the true 200: $ndv")
      val k2 = byName.getOrElse("k2", fail(s"no k2 column stats in $byName"))
      assert(k2.min.contains(0L) && k2.max.contains(9L), s"$k2")
      assert(k2.distinctCount.isEmpty, "no index on k2: no NDV claim")
      // the decision the stats exist for: a selective range filter on
      // the tracked column shrinks the fact's estimate (min/max-based
      // selectivity), flipping the join against a big dim to broadcast
      // — size-only estimation cannot shrink a Filter, so without CBO
      // the same query stays sort-merge
      spark.sql("CREATE TABLE graft.lake.cdimbig AS " +
        "SELECT id AS k, id * 7 AS attr, md5(CAST(id AS STRING)) AS filler " +
        "FROM range(100000)")
      val thPrev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (512 * 1024).toString)
        def joins(cboOn: Boolean): Seq[String] = {
          spark.conf.set("spark.sql.cbo.enabled", cboOn.toString)
          spark.sql(
            "SELECT sum(b.attr) FROM graft.lake.cfact f " +
              "JOIN graft.lake.cdimbig b ON f.payload = b.k " +
              "WHERE f.k1 BETWEEN 0 AND 9")
            .queryExecution.sparkPlan.collect {
              case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
                "broadcast"
              case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => "smj"
              case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => "shj"
            }
        }
        assert(joins(cboOn = true) == Seq("broadcast"),
          "CBO + envelope stats must see through the filter and broadcast the fact side")
        assert(!joins(cboOn = false).contains("broadcast"),
          "without CBO the filtered fact still reads as too big to broadcast")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thPrev)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("member-index Bloom pruning engages for catalog point lookups too") {
    val dir = mkTable("lake", "bloomed")
    MemberIndex.build(spark, dir, "k")
    val q = spark.sql("SELECT id, k FROM graft.lake.bloomed WHERE k IN (11, 222)")
    val files = scannedFiles(q)
    assert(files.size < 5, s"Bloom must prune the V2 point lookup (${files.size}/5)")
    assert(q.collect().map(_.getLong(1)).sorted.toSeq == Seq(11L, 222L))
  }

  test("parquet-level pushdown and column pruning still engage on the survivors") {
    mkTable("lake", "pushed")
    val q = spark.sql("SELECT cat FROM graft.lake.pushed WHERE id = 42")
    val scanStr = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.mkString("\n")
    assert(scanStr.contains("PushedFilters") && scanStr.contains("id"),
      s"parquet pushdown missing from:\n$scanStr")
    val read = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => (b.scan match {
        case g: graft.sources.GraftLakeScan => g.underlying
        case o => o
      }) match { case p: ParquetScan => p.readDataSchema.fieldNames.toSeq }
    }.flatten
    assert(read.toSet == Set("id", "cat"), s"column pruning must reach the scan: $read")
    assert(q.collect().map(_.getString(0)).toSeq == Seq(s"s${42 % 13}"))
  }

  test("small catalog tables report real statistics and auto-broadcast in joins") {
    mkTable("lake", "dimstats")
    val big = spark.range(0, 100000).toDF("id")
    val j = big.join(spark.sql("SELECT id, cat FROM graft.lake.dimstats"), "id")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"a 1000-row catalog dim must broadcast (scan stats hidden?):\n$plan")
  }

  test("metadata tables: $history / $files / $refs are driver-local queryable relations") {
    val dir = mkTable("lake", "meta") // v1: 5 files, 1000 rows
    ManifestTable.commit(Seq((2000L, 0L, "x")).toDF("id", "k", "cat"), dir, Seq("id")) // v2
    ManifestTable.tag(dir, "rel1", 1L)
    val h = spark.sql(
      "SELECT version, parent, state_preserving, data_files, data_rows " +
        "FROM graft.lake.`meta$history` ORDER BY version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h(1).getLong(1) == 1L && !h(1).getBoolean(2))
    assert(h(0).getLong(3) == 5L && h(0).getLong(4) == 1000L)
    assert(h(1).getLong(3) == 6L && h(1).getLong(4) == 1001L)
    val f = spark.sql(
      "SELECT count(*) AS n, sum(rows) AS r, min(mins['id']) AS lo " +
        "FROM graft.lake.`meta$files`").head()
    assert(f.getLong(0) == 6L && f.getLong(1) == 1001L && f.getString(2) == "1")
    val refs = spark.sql("SELECT name, type, version FROM graft.lake.`meta$refs`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.contains(("rel1", "tag", 1L)), s"got ${refs.toSeq}")
    // unknown suffix and missing base stay loud
    val bad = intercept[Exception](spark.sql("SELECT * FROM graft.lake.`meta$nope`").collect())
    assert(bad.getMessage.contains("nope"))
    intercept[Exception](spark.sql("SELECT * FROM graft.lake.`ghost$history`").collect())
  }

  test("catalog surface: listTables, missing tables, unsupported DDL stays loud") {
    mkTable("lake", "listed")
    val names = spark.sql("SHOW TABLES IN graft.lake").collect().map(_.getString(1)).toSet
    assert(names.contains("listed"))
    val missing = intercept[Exception](spark.sql("SELECT * FROM graft.lake.nope").collect())
    assert(missing.getMessage.toLowerCase.contains("table"))
    // retypes are rewrites in disguise and stay refused (rename/drop
    // are now metadata-only features — see the ALTER TABLE specs)
    val alter = intercept[Exception](
      spark.sql("ALTER TABLE graft.lake.listed ALTER COLUMN cat TYPE BIGINT").collect())
    assert(alter.getMessage.toLowerCase.contains("not supported"))
  }

  test("CREATE TABLE + INSERT INTO: SQL writes ride the transactional commit") {
    spark.sql(
      "CREATE TABLE graft.lake.sqlw (id BIGINT, k BIGINT, cat STRING) PARTITIONED BY (id)")
    val dir = mkTableDir("lake", "sqlw")
    assert(ManifestTable.manifest(dir, None).track == Seq("id"), "PARTITIONED BY -> track spec")
    spark.sql("INSERT INTO graft.lake.sqlw SELECT id, id * 7 AS k, 'a' AS cat " +
      "FROM range(1, 1001)")
    assert(spark.sql("SELECT count(*), sum(id) FROM graft.lake.sqlw").head() ==
      org.apache.spark.sql.Row(1000L, (1L to 1000L).sum))
    // identical through the API read — same table, same commit protocol
    assert(ManifestTable.snapshot(spark, dir).count() == 1000)
    // second insert appends (v3), first version still time-travels
    spark.sql("INSERT INTO graft.lake.sqlw VALUES (2000, 0, 'b')")
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlw").head().getLong(0) == 1001)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlw VERSION AS OF 2")
      .head().getLong(0) == 1000)
  }

  test("SQL-written files carry envelope stats: the V2 scan prunes them like API commits") {
    spark.sql("CREATE TABLE graft.lake.sqlpruned (id BIGINT, v STRING) PARTITIONED BY (id)")
    // 4 range-disjoint inserts = 4 files with tight id envelopes
    for (lo <- Seq(0, 1000, 2000, 3000))
      spark.sql(s"INSERT INTO graft.lake.sqlpruned SELECT id, 'x' FROM range($lo, ${lo + 1000})")
    val q = spark.sql("SELECT id FROM graft.lake.sqlpruned WHERE id BETWEEN 2100 AND 2200")
    assert(scannedFiles(q).size == 1,
      s"insert-time envelopes must prune to 1 file, got ${scannedFiles(q).size}")
    assert(q.count() == 101)
  }

  test("INSERT OVERWRITE is an atomic replace; history stays readable") {
    mkTable("lake", "sqlow")
    spark.sql("INSERT OVERWRITE graft.lake.sqlow SELECT id, id AS k, 'z' AS cat FROM range(5)")
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlow").head().getLong(0) == 5)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlow VERSION AS OF 1")
      .head().getLong(0) == 1000, "pre-overwrite snapshot must still time-travel")
  }

  test("CTAS: one statement creates, tracks, and loads") {
    mkTable("lake", "ctas_src")
    spark.sql("CREATE TABLE graft.lake.ctas_dst PARTITIONED BY (id) AS " +
      "SELECT id, cat FROM graft.lake.ctas_src WHERE id <= 100")
    assert(spark.sql("SELECT count(*) FROM graft.lake.ctas_dst").head().getLong(0) == 100)
    assert(ManifestTable.manifest(mkTableDir("lake", "ctas_dst"), None).track == Seq("id"))
    val dup = intercept[Exception](
      spark.sql("CREATE TABLE graft.lake.ctas_dst (x INT)").collect())
    assert(dup.getMessage.toLowerCase.contains("exists"), s"got: ${dup.getMessage}")
    // years/months/days/hours/bucket/truncate are the supported
    // hidden-partitioning transforms; anything else still refuses loudly
    val bad = intercept[Exception](
      spark.sql("CREATE TABLE graft.lake.bad (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (foo(ts))").collect())
    assert(bad.getMessage.contains("unsupported PARTITIONED BY transform"),
      s"got: ${bad.getMessage}")
  }

  test("SQL insert into a table with PENDING MoR tombstones: sequence rule holds") {
    val dir = mkTable("lake", "sqlmor")
    ManifestTable.deleteByKey(Seq(5L, 6L).toDF("id"), dir, Seq("id"))
    assert(ManifestTable.manifest(dir, None).hasMorDeletes)
    // the SQL append lands ABOVE the tombstone's sequence: the re-inserted
    // key is visible while the original row stays deleted
    spark.sql("INSERT INTO graft.lake.sqlmor VALUES (5, 99, 'back')")
    assert(ManifestTable.manifest(dir, None).hasMorDeletes, "append must keep the tombstones")
    val rows = spark.sql("SELECT k FROM graft.lake.sqlmor WHERE id IN (5, 6)")
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(99L), s"got $rows")
  }

  test("two racing SQL inserts both land (optimistic commit loop)") {
    spark.sql("CREATE TABLE graft.lake.sqlrace (id BIGINT) PARTITIONED BY (id)")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = (0 until 2).map { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            spark.sql(s"INSERT INTO graft.lake.sqlrace SELECT id FROM range(${i * 100}, ${i * 100 + 100})")
        })
      }
      fs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlrace").head().getLong(0) == 200,
      "both racing inserts must land, nothing doubled")
  }

  test("DELETE FROM through the catalog: file-granular CoW, history preserved") {
    val dir = mkTable("lake", "sqldel")
    val before = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    spark.sql("DELETE FROM graft.lake.sqldel WHERE id BETWEEN 100 AND 150 AND cat = 's5'")
    val expectGone = (100L to 150L).count(i => s"s${i % 13}" == "s5")
    assert(expectGone > 0)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqldel").head().getLong(0) ==
      1000L - expectGone)
    // file-granular: untouched range files keep their exact entries
    val after = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    assert(before.intersect(after).nonEmpty, "files without matching rows must survive as-is")
    // pre-delete snapshot still time-travels
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqldel VERSION AS OF 1")
      .head().getLong(0) == 1000)
    // NULL-semantics: a NULL comparison is not TRUE -> row survives
    spark.sql("CREATE TABLE graft.lake.sqldel_null (id BIGINT, k BIGINT)")
    spark.sql("INSERT INTO graft.lake.sqldel_null VALUES (1, 10), (2, NULL), (3, 30)")
    spark.sql("DELETE FROM graft.lake.sqldel_null WHERE k < 99999999")
    assert(spark.sql("SELECT id FROM graft.lake.sqldel_null").collect().map(_.getLong(0)).toSeq
      == Seq(2L), "only the NULL-k row may survive a k < inf delete")
  }

  test("SQL UPDATE: group-based CoW rewrites only the files holding matching rows") {
    val dir = mkTable("lake", "sqlupd")
    val before = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    spark.sql("UPDATE graft.lake.sqlupd SET cat = 'flagged', k = -1 WHERE id BETWEEN 10 AND 30")
    val after = ManifestTable.manifest(dir, None)
    // only the file(s) whose id envelope overlaps [10, 30] were swapped
    val kept = before.intersect(after.files.map(_.path).toSet)
    assert(kept.size >= 3, s"envelope pruning must keep non-overlapping files, kept ${kept.size}/5")
    val got = spark.sql(
      "SELECT count(*), sum(k) FROM graft.lake.sqlupd WHERE cat = 'flagged'").head()
    assert(got.getLong(0) == 21 && got.getLong(1) == -21, s"got $got")
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlupd").head().getLong(0) == 1000)
    // untouched rows bit-identical; pre-update snapshot still readable
    assert(spark.sql("SELECT sum(k) FROM graft.lake.sqlupd WHERE id > 30").head().getLong(0)
      == (31 to 1000).map(i => (i * 613) % 1000).sum)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlupd VERSION AS OF 1 WHERE cat = 'flagged'")
      .head().getLong(0) == 0)
  }

  test("SQL MERGE INTO: matched updates, not-matched inserts, one atomic commit") {
    val dir = mkTable("lake", "sqlmrg")
    Seq((5L, 500L, "upd"), (7L, 700L, "upd"), (5000L, 1L, "new"))
      .toDF("id", "k", "cat").createOrReplaceTempView("mrg_src")
    spark.sql("""
      MERGE INTO graft.lake.sqlmrg t USING mrg_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.k = s.k, t.cat = s.cat
      WHEN NOT MATCHED THEN INSERT (id, k, cat) VALUES (s.id, s.k, s.cat)
    """)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlmrg").head().getLong(0) == 1001)
    val upd = spark.sql("SELECT id, k FROM graft.lake.sqlmrg WHERE cat = 'upd' ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(upd == Seq((5L, 500L), (7L, 700L)), s"got $upd")
    assert(spark.sql("SELECT k FROM graft.lake.sqlmrg WHERE id = 5000").head().getLong(0) == 1L)
    // exactly one commit for the whole MERGE
    assert(ManifestTable.latestVersion(dir).get == 2L)
    // WHEN MATCHED THEN DELETE also routes through the rewrite
    spark.sql("""
      MERGE INTO graft.lake.sqlmrg t USING mrg_src s ON t.id = s.id
      WHEN MATCHED AND s.cat = 'new' THEN DELETE
    """)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlmrg WHERE id = 5000")
      .head().getLong(0) == 0)
  }

  test("SQL MERGE INTO ... NOT MATCHED BY SOURCE: update/delete of target-only rows in the same atomic commit") {
    val dir = mkTable("lake", "sqlmrg_nbs")
    Seq((5L, 500L, "src"), (6000L, 1L, "src"))
      .toDF("id", "k", "cat").createOrReplaceTempView("mrg_nbs_src")
    spark.sql("""
      MERGE INTO graft.lake.sqlmrg_nbs t USING mrg_nbs_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.k = s.k, t.cat = s.cat
      WHEN NOT MATCHED THEN INSERT (id, k, cat) VALUES (s.id, s.k, s.cat)
      WHEN NOT MATCHED BY SOURCE AND t.id > 995 THEN DELETE
    """)
    // matched update + unmatched insert + target-only deletes, one commit
    assert(spark.sql("SELECT k FROM graft.lake.sqlmrg_nbs WHERE id = 5").head().getLong(0) == 500L)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlmrg_nbs WHERE id = 6000").head().getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlmrg_nbs WHERE id > 995 AND id < 6000")
      .head().getLong(0) == 0, "target-only rows beyond the source must be deleted")
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlmrg_nbs").head().getLong(0) == 996)
    assert(ManifestTable.latestVersion(dir).get == 2L, "whole MERGE = one commit")
    // NOT MATCHED BY SOURCE ... UPDATE marks target-only rows
    spark.sql("""
      MERGE INTO graft.lake.sqlmrg_nbs t USING mrg_nbs_src s ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE AND t.id <= 3 THEN UPDATE SET t.cat = 'stale'
    """)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlmrg_nbs WHERE cat = 'stale'")
      .head().getLong(0) == 3)
    // pre-merge snapshot untouched
    assert(spark.sql("SELECT count(*) FROM graft.lake.sqlmrg_nbs VERSION AS OF 1")
      .head().getLong(0) == 1000)
  }

  test("row-level SQL ops refuse tables with pending MoR tombstones, loudly") {
    val dir = mkTable("lake", "sqlupd_mor")
    ManifestTable.deleteByKey(Seq(3L).toDF("id"), dir, Seq("id"))
    val e = intercept[Exception](
      spark.sql("UPDATE graft.lake.sqlupd_mor SET cat = 'x' WHERE id = 7").collect())
    assert(e.getMessage.contains("pending merge-on-read"), s"got: ${e.getMessage}")
  }

  test("_version metadata column: constant per snapshot, usable from plain SQL") {
    val dir = mkTable("lake", "vcol")
    ManifestTable.commit(Seq((2000L, 0L, "x")).toDF("id", "k", "cat"), dir, Seq("id"))
    val vs = spark.sql("SELECT DISTINCT _version FROM graft.lake.vcol")
      .collect().map(_.getLong(0)).toSeq
    assert(vs == Seq(2L), s"head snapshot must serve _version=2, got $vs")
    assert(spark.sql("SELECT DISTINCT _version FROM graft.lake.vcol VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // mixes with data columns and predicates
    val r = spark.sql(
      "SELECT max(_version) AS v, count(*) AS n FROM graft.lake.vcol WHERE id <= 100").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 100L)
  }

  test("writeStream.toTable: per-epoch manifest commits with epoch-scoped txn markers") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("CREATE TABLE graft.lake.streamed (id BIGINT, v STRING) PARTITIONED BY (id)")
    val dir = mkTableDir("lake", "streamed")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", tmpDir("sqlstream-ckpt").toString)
      .toTable("graft.lake.streamed")
    try {
      in.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      in.addData((3L, "c")); q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM graft.lake.streamed").head().getLong(0) == 3)
      // one manifest version per epoch, each carrying its stream txn
      val txns = ManifestTable.versions(dir).sorted.map(v =>
        ManifestTable.manifest(dir, Some(v)).txn)
      assert(txns.head.isEmpty && txns.tail.forall(_.exists(_.startsWith("stream-"))),
        s"epoch commits must carry stream txn markers, got $txns")
      assert(txns.flatten.distinct.size == txns.flatten.size, "epoch txns must be distinct")
      // a replayed epoch is a no-op: same txn already committed
      val head = ManifestTable.latestVersion(dir).get
      assert(ManifestTable.manifest(dir, Some(head)).files.nonEmpty)
    } finally q.stop()
    // envelope stats from streamed files prune like any commit
    val files = scannedFiles(
      spark.sql("SELECT id FROM graft.lake.streamed WHERE id = 3"))
    assert(files.size <= 1, s"streamed-file envelopes must prune, scanned ${files.size}")
  }

  test("ALTER TABLE ADD COLUMN: metadata-only evolution, old snapshots keep their schema") {
    val dir = mkTable("lake", "evolved")
    val filesBefore = ManifestTable.manifest(dir, None).files
    spark.sql("ALTER TABLE graft.lake.evolved ADD COLUMN note STRING")
    // zero data I/O: the evolved manifest carries the parent's exact files
    assert(ManifestTable.manifest(dir, None).files == filesBefore)
    // old rows read NULL; inserts land values; old snapshot keeps 3 columns
    spark.sql("INSERT INTO graft.lake.evolved VALUES (5000, 1, 'z', 'annotated')")
    val r = spark.sql(
      "SELECT count(*), count(note) FROM graft.lake.evolved").head()
    assert(r.getLong(0) == 1001 && r.getLong(1) == 1, s"got $r")
    assert(spark.sql("SELECT * FROM graft.lake.evolved VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("id", "k", "cat"))
    // retypes stay refused (rename/drop are metadata-only features now)
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.lake.evolved ALTER COLUMN note TYPE INT").collect())
    assert(e.getMessage.toLowerCase.contains("not supported"), s"got: ${e.getMessage}")
  }

  test("ALTER TABLE RENAME/DROP COLUMN through SQL: metadata-only, era-union reads, retired refused") {
    spark.sql("CREATE TABLE graft.lake.ren (id BIGINT, v STRING) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft.lake.ren VALUES (1, 'a'), (2, 'b')")
    val dir = mkTableDir("lake", "ren")
    val filesBefore = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    spark.sql("ALTER TABLE graft.lake.ren RENAME COLUMN v TO val")
    assert(ManifestTable.manifest(dir, None).files.map(_.path).toSet == filesBefore,
      "SQL rename must write no data")
    spark.sql("INSERT INTO graft.lake.ren VALUES (3, 'c')")
    // plain SQL reads BOTH eras (MorApplyRewrite swaps in the era-union plan)
    val got = spark.sql("SELECT id, val FROM graft.lake.ren ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")), s"era-union SQL read: $got")
    // time travel sees the era's own schema
    assert(spark.sql("SELECT * FROM graft.lake.ren VERSION AS OF 2").columns.toSeq ==
      Seq("id", "v"))
    // drop + retired-name refusal
    spark.sql("ALTER TABLE graft.lake.ren ADD COLUMN note STRING")
    spark.sql("ALTER TABLE graft.lake.ren DROP COLUMN note")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.lake.ren ADD COLUMN v STRING"))
    assert(e.getMessage.contains("retired"), s"resurrecting a renamed-away name: $e")
    assert(spark.sql("SELECT * FROM graft.lake.ren").columns.toSeq == Seq("id", "val"))
  }

  test("count/min/max answered from manifest metadata: zero file reads") {
    mkTable("lake", "aggpush")
    val q = spark.sql(
      "SELECT count(*) AS c, min(id) AS lo, max(id) AS hi FROM graft.lake.aggpush")
    val r = q.head()
    assert(r.getLong(0) == 1000L && r.getLong(1) == 1L && r.getLong(2) == 1000L)
    // the LocalScan answer renders as a driver-local LocalTableScan —
    // no BatchScan, no parquet, no tasks against data files
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"the aggregate must be answered from metadata, got:\n$plan")
    // with a residual filter the push declines and the scan answers
    val f = spark.sql("SELECT count(*) FROM graft.lake.aggpush WHERE id <= 100")
    assert(f.head().getLong(0) == 100L)
    assert(f.queryExecution.executedPlan.toString.contains("BatchScan"))
    // min/max on an UNTRACKED column declines but stays correct
    val u = spark.sql("SELECT max(cat) AS m FROM graft.lake.aggpush")
    assert(u.head().getString(0) == "s9")
    assert(u.queryExecution.executedPlan.toString.contains("BatchScan"))
  }

  test("runtime file pruning: a filtered dim join prunes fact files at execution (lake DPP)") {
    // star shape: the fact must dwarf the dim so the DIM broadcasts
    // (DPP reuses that broadcast); the fact also reports real stats now
    val dir = s"$warehouse/lake/dppfact"
    new java.io.File(dir).mkdirs()
    ManifestTable.commit(
      (1 to 50000).map(i => (i.toLong, s"payload-$i-${"x" * 40}"))
        .toDF("id", "v").repartitionByRange(5, $"id"),
      dir, track = Seq("id"))
    // parquet-backed dim: a local relation would constant-fold the
    // selective filter away and leave DPP nothing to key on
    val dimPath = tmpDir("dpp-dim").toString + "/d"
    (1 to 50000 by 100).map(i => (i.toLong, if (i <= 6000) "hot" else "cold"))
      .toDF("id", "temp").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dpp_dim")
    graft.sources.GraftLakeScan.lastRuntimePrune.set(null)
    val q = spark.sql(
      "SELECT count(*) AS n FROM graft.lake.dppfact f " +
        "JOIN dpp_dim d ON f.id = d.id WHERE d.temp = 'hot'")
    assert(q.head().getLong(0) == 60L)
    val pruned = graft.sources.GraftLakeScan.lastRuntimePrune.get()
    assert(pruned != null && pruned._2 < pruned._1,
      s"the dim's hot ids (<= 6000) cover 1 of 5 range files — runtime pruning " +
        s"must have engaged, got $pruned\n${q.queryExecution.executedPlan}")
  }

  test("TRUNCATE TABLE: atomic empty replace, history stays time-travelable") {
    val dir = mkTable("lake", "trunc")
    spark.sql("TRUNCATE TABLE graft.lake.trunc")
    assert(spark.sql("SELECT count(*) FROM graft.lake.trunc").head().getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM graft.lake.trunc VERSION AS OF 1")
      .head().getLong(0) == 1000L, "pre-truncate snapshot stays readable")
    assert(ManifestTable.manifest(dir, None).files.isEmpty)
    // the table stays writable with the committed schema
    spark.sql("INSERT INTO graft.lake.trunc VALUES (1, 2, 'x')")
    assert(spark.sql("SELECT count(*) FROM graft.lake.trunc").head().getLong(0) == 1L)
  }

  test("CALL graft.system procedures: the maintenance surface from SQL") {
    val dir = mkTable("lake", "proc") // v1: 1000 rows
    ManifestTable.deleteByKey(Seq(5L).toDF("id"), dir, keys = Seq("id")) // v2: MoR tombstone
    val v = spark.sql("CALL graft.system.materialize_deletes(table => 'lake.proc')")
      .head().getLong(0)
    assert(v == 3L && !ManifestTable.manifest(dir, None).hasMorDeletes,
      "the procedure must run the real materialization")
    assert(spark.sql("SELECT count(*) FROM graft.lake.proc").head().getLong(0) == 999L)
    spark.sql("CALL graft.system.tag(table => 'lake.proc', name => 'pre', version => 1)")
    assert(ManifestTable.tags(dir)("pre") == 1L)
    spark.sql("CALL graft.system.rollback(table => 'lake.proc', version => 1)")
    assert(spark.sql("SELECT count(*) FROM graft.lake.proc").head().getLong(0) == 1000L)
    // named + defaulted args through the full cadence
    val head = spark.sql(
      "CALL graft.system.maintain(table => 'lake.proc', cluster_by => 'id')")
      .head().getLong(0)
    assert(head == ManifestTable.latestVersion(dir).get)
    assert(spark.sql("SELECT count(*) FROM graft.lake.proc").head().getLong(0) == 1000L,
      "maintenance is content-neutral")
    spark.sql("CALL graft.system.vacuum(table => 'lake.proc', min_age_hours => 24)")
    assert(spark.sql("SELECT count(*) FROM graft.lake.proc").head().getLong(0) == 1000L,
      "vacuum with the default grace age must not touch live data")
    val shown = spark.sql("SHOW PROCEDURES IN graft.system").collect()
    assert(shown.length >= 7, s"SHOW PROCEDURES must list the surface, got ${shown.length}")
    val bad = intercept[Exception](
      spark.sql("CALL graft.system.nope(table => 'lake.proc')").collect())
    assert(bad.getMessage.contains("nope"), bad.getMessage)
  }

  test("CALL graft.system.profile: the one-pass profile from SQL, hash-matching the Scala path") {
    val dir = mkTableDir("lake", "profp")
    ManifestTable.commit(
      spark.range(0, 2000).selectExpr(
        "id", "CAST(id % 37 AS DOUBLE) AS score",
        "CASE WHEN id % 11 = 0 THEN NULL ELSE concat('u', id % 100) END AS tag"),
      dir, Seq("id"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("col_name").collect().map(_.toSeq).toSeq
    // sketched (the default rsd): identical rows through SQL and Scala
    val viaSql = spark.sql(
      "CALL graft.system.profile(table => 'lake.profp', columns => 'id, score, tag')")
    val viaScala = graft.operators.Stats.profileApprox(
      spark.table("graft.lake.profp"), Seq("id", "score", "tag"))
    assert(viaSql.schema.fieldNames.toSeq == viaScala.schema.fieldNames.toSeq)
    assert(norm(viaSql) == norm(viaScala), "SQL and Scala profiles must match exactly")
    // exact twin at rsd <= 0: ndv is count(DISTINCT)
    val exact = spark.sql(
      "CALL graft.system.profile(table => 'lake.profp', columns => 'tag', rsd => 0.0)")
      .head()
    assert(exact.getString(0) == "tag" && exact.getLong(3) == 100L,
      s"exact ndv must be 100: $exact")
    assert(exact.getLong(2) == 2000L / 11 + 1, "null count rides the profile")
  }

  test("CALL graft.system.delete_by_key: O(keys) SQL erasure, zero data files rewritten") {
    val dir = mkTable("lake", "gdpr")
    val dataBefore = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    // literal key list
    val v = spark.sql("CALL graft.system.delete_by_key(" +
      "table => 'lake.gdpr', key_col => 'id', keys => '5, 7')").head().getLong(0)
    assert(v == 2L)
    val m = ManifestTable.manifest(dir, None)
    assert(m.files.map(_.path).toSet == dataBefore,
      "merge-on-read erasure must rewrite ZERO data files")
    assert(m.hasMorDeletes && m.deleteFiles.nonEmpty)
    assert(spark.sql("SELECT count(*) FROM graft.lake.gdpr").head().getLong(0) == 998L)
    // keys from a registered view — the GDPR-stream path
    Seq(9L, 10L).toDF("id").createOrReplaceTempView("gdpr_ids")
    spark.sql("CALL graft.system.delete_by_key(" +
      "table => 'lake.gdpr', key_col => 'id', source => 'gdpr_ids')")
    assert(spark.sql("SELECT count(*) FROM graft.lake.gdpr WHERE id IN (5,7,9,10)")
      .head().getLong(0) == 0L)
    assert(ManifestTable.manifest(dir, None).files.map(_.path).toSet == dataBefore)
    // a later INSERT of an erased key is never shadowed (seq rule via SQL)
    spark.sql("INSERT INTO graft.lake.gdpr VALUES (5, 0, 'back')")
    assert(spark.sql("SELECT cat FROM graft.lake.gdpr WHERE id = 5").head().getString(0) == "back")
    // guards: exactly one key source; unknown column refused
    val both = intercept[Exception](spark.sql("CALL graft.system.delete_by_key(" +
      "table => 'lake.gdpr', key_col => 'id', keys => '1', source => 'gdpr_ids')").collect())
    assert(both.getMessage.contains("exactly one"), both.getMessage)
    val badCol = intercept[Exception](spark.sql("CALL graft.system.delete_by_key(" +
      "table => 'lake.gdpr', key_col => 'nope', keys => '1')").collect())
    assert(badCol.getMessage.contains("nope"), badCol.getMessage)
    // maintenance repays the debt; content unchanged
    spark.sql("CALL graft.system.materialize_deletes(table => 'lake.gdpr')")
    assert(!ManifestTable.manifest(dir, None).hasMorDeletes)
    assert(spark.sql("SELECT count(*) FROM graft.lake.gdpr").head().getLong(0) == 997L)
  }

  test("branches from SQL: CALL create_branch / VERSION AS OF '<branch>' / $refs / fast_forward") {
    val dir = mkTable("lake", "br")
    spark.sql("CALL graft.system.create_branch(table => 'lake.br', name => 'wap')")
    ManifestTable.commitToBranch(
      Seq((5001L, 1L, "staged")).toDF("id", "k", "cat"), dir, "wap", Seq("id"))
    // isolation: main head unchanged; the branch reads via VERSION AS OF
    assert(spark.sql("SELECT count(*) FROM graft.lake.br").head().getLong(0) == 1000)
    assert(spark.sql("SELECT count(*) FROM graft.lake.br VERSION AS OF 'wap'")
      .head().getLong(0) == 1001)
    assert(spark.sql("SELECT cat FROM graft.lake.br VERSION AS OF 'wap' WHERE id = 5001")
      .head().getString(0) == "staged")
    // $refs lists the branch at its head version
    val refs = spark.sql("SELECT name, type, version FROM graft.lake.`br$refs`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(refs.contains(("wap", "branch", 2L)), s"got $refs")
    // publish: head advances, branch gone, staged row visible on main
    val head = spark.sql("CALL graft.system.fast_forward(table => 'lake.br', name => 'wap')")
      .head().getLong(0)
    assert(head == 2L)
    assert(spark.sql("SELECT count(*) FROM graft.lake.br").head().getLong(0) == 1001)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft.lake.br VERSION AS OF 'wap'").collect())
    assert(e.getMessage.contains("branch"), e.getMessage)
    // abandon path: drop_branch leaves main untouched
    spark.sql("CALL graft.system.create_branch(table => 'lake.br', name => 'scratch')")
    ManifestTable.commitToBranch(
      Seq((9999L, 0L, "junk")).toDF("id", "k", "cat"), dir, "scratch", Seq("id"))
    spark.sql("CALL graft.system.drop_branch(table => 'lake.br', name => 'scratch')")
    assert(ManifestTable.branches(dir).isEmpty)
    assert(spark.sql("SELECT count(*) FROM graft.lake.br").head().getLong(0) == 1001)
  }

  test("track-spec evolution: new files prune on the added column, old files always scan, aggregates decline until compaction") {
    val dir = mkTable("lake", "spec_evo") // 5 files tracked by id only
    val nOld = ManifestTable.manifest(dir, None).files.size
    spark.sql("CALL graft.system.add_tracked_column(table => 'lake.spec_evo', column => 'k')")
    // metadata-only: same files, evolved spec
    val m = ManifestTable.manifest(dir, None)
    assert(m.files.size == nOld && m.track == Seq("id", "k") && m.trackSince("k") == m.version)
    // post-evolution files carry k envelopes (k-clustered -> tight)
    ManifestTable.commit(
      (1 to 400).map(i => (10000L + i, 2000L + i, "new")).toDF("id", "k", "cat")
        .repartitionByRange(4, $"k"),
      dir, track = Seq("id", "k"))
    val total = ManifestTable.manifest(dir, None).files.size
    assert(total == nOld + 4)
    // a k-predicate prunes NEW files but must keep every OLD file (no
    // envelope there — pruning them would be wrong, Iceberg
    // spec-evolution semantics)
    val q = spark.sql("SELECT id FROM graft.lake.spec_evo WHERE k = 2001")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(10001L))
    val scanned = scannedFiles(q)
    assert(scanned.size < total, "new files must prune on the evolved column")
    assert(scanned.size >= nOld + 1,
      s"pre-evolution files must ALWAYS scan (got ${scanned.size} of $total)")
    // rows in old files still found through the unpruned scan
    assert(spark.sql("SELECT count(*) FROM graft.lake.spec_evo WHERE k = 613")
      .head().getLong(0) == 1)
    // min/max on the evolved column must NOT answer from metadata while
    // uncovered files live (their rows could hold the true extremum)
    val aggPlan = spark.sql("SELECT min(k) FROM graft.lake.spec_evo")
      .queryExecution.executedPlan.toString
    assert(!aggPlan.contains("LocalTableScan"),
      s"metadata aggregate must decline on a partially-covered column:\n$aggPlan")
    // compaction rewrites every file into the evolved spec: full
    // pruning and metadata aggregates come back
    spark.sql("CALL graft.system.compact(table => 'lake.spec_evo', cluster_by => 'k', num_files => 6)")
    val q2 = spark.sql("SELECT id FROM graft.lake.spec_evo WHERE k = 2001")
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(10001L))
    assert(scannedFiles(q2).size <= 2,
      "after compaction the evolved column prunes the whole table")
    val agg2 = spark.sql("SELECT min(k) AS mn, max(k) AS mx FROM graft.lake.spec_evo")
    assert(agg2.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "full coverage restores the metadata-aggregate path")
    assert(agg2.head() == org.apache.spark.sql.Row(0L, 2400L))
    // guards
    val e = intercept[Exception](spark.sql(
      "CALL graft.system.add_tracked_column(table => 'lake.spec_evo', column => 'k')").collect())
    assert(e.getMessage.contains("already tracked"))
  }

  test("spark.graft.wap.branch: SQL-only write-audit-publish, main isolated while staged") {
    val dir = mkTable("lake", "wapsql")
    spark.sql("CALL graft.system.create_branch(table => 'lake.wapsql', name => 'audit')")
    spark.conf.set("spark.graft.wap.branch", "audit")
    try {
      // plain INSERTs route onto the branch; plain reads serve it
      spark.sql("INSERT INTO graft.lake.wapsql VALUES (6001, 1, 'staged')")
      spark.sql("INSERT INTO graft.lake.wapsql VALUES (6002, 2, 'staged')")
      spark.sql("INSERT INTO graft.lake.wapsql VALUES (6003, 3, 'mistake')")
      assert(spark.sql("SELECT count(*) FROM graft.lake.wapsql").head().getLong(0) == 1003,
        "a plain read while staging must serve the branch (the audit half)")
      // row corrections are PLAIN SQL DML while routing — each commits
      // as a branch-scoped CoW rewrite, zero CALLs:
      spark.sql("DELETE FROM graft.lake.wapsql WHERE cat = 'mistake'")
      assert(spark.sql("SELECT count(*) FROM graft.lake.wapsql").head().getLong(0) == 1002,
        "the staged DELETE must apply on the branch read")
      spark.sql("UPDATE graft.lake.wapsql SET cat = 'fixed' WHERE id = 6002")
      assert(spark.sql("SELECT cat FROM graft.lake.wapsql WHERE id = 6002")
        .head().getString(0) == "fixed", "the staged UPDATE must apply on the branch read")
      spark.sql(
        """MERGE INTO graft.lake.wapsql t
          |USING (SELECT 6001L AS id, 1L AS k, 'merged' AS cat
          |       UNION ALL SELECT 6004L, 4L, 'staged') s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(spark.sql("SELECT cat FROM graft.lake.wapsql WHERE id = 6001")
        .head().getString(0) == "merged", "the staged MERGE must upsert on the branch")
      assert(spark.sql("SELECT count(*) FROM graft.lake.wapsql").head().getLong(0) == 1003,
        "MERGE must have appended its unmatched row on the branch")
      // MAIN ISOLATION while staged: unset the knob, main is untouched
      spark.conf.unset("spark.graft.wap.branch")
      assert(spark.sql("SELECT count(*) FROM graft.lake.wapsql").head().getLong(0) == 1000,
        "main must not see staged branch commits (3 appends + 3 CoW rewrites)")
      assert(ManifestTable.latestVersion(dir).contains(1L))
      spark.conf.set("spark.graft.wap.branch", "audit")
      // whole-snapshot replacements still refuse while routing is on
      val eo = intercept[Exception](
        spark.sql("INSERT OVERWRITE graft.lake.wapsql VALUES (1, 1, 'x')"))
      assert(eo.getMessage.contains("WAP branch"), eo.getMessage)
      val et2 = intercept[Exception](spark.sql("TRUNCATE TABLE graft.lake.wapsql"))
      assert(et2.getMessage.contains("wap.branch"), et2.getMessage)
      // a table with NO such branch reads main (the knob names the
      // staging lane, not every table on it)
      mkTable("lake", "wapother")
      assert(spark.sql("SELECT count(*) FROM graft.lake.wapother").head().getLong(0) == 1000)
      // a typo'd branch must not silently fork: insert refuses
      spark.conf.set("spark.graft.wap.branch", "no-such-branch")
      val et = intercept[Exception](
        spark.sql("INSERT INTO graft.lake.wapsql VALUES (6003, 3, 'lost')"))
      assert(et.getMessage.contains("create_branch"), et.getMessage)
      spark.conf.set("spark.graft.wap.branch", "audit")
      // SQL audit gate over the branch, then SQL publish
      assert(spark.sql(
        "SELECT count(*) FROM graft.lake.wapsql " +
          "WHERE cat IN ('staged', 'fixed', 'merged')").head().getLong(0) == 3)
      spark.sql("CALL graft.system.fast_forward(table => 'lake.wapsql', name => 'audit')")
    } finally spark.conf.unset("spark.graft.wap.branch")
    assert(spark.sql("SELECT count(*) FROM graft.lake.wapsql").head().getLong(0) == 1003,
      "publish must land the audited chain on main")
    assert(spark.sql("SELECT cat FROM graft.lake.wapsql WHERE id IN (6001, 6002, 6004) " +
      "ORDER BY id").collect().map(_.getString(0)).toSeq == Seq("merged", "fixed", "staged"),
      "every SQL DML correction must survive the publish")
    assert(spark.sql("SELECT count(*) FROM graft.lake.wapsql WHERE id = 6003")
      .head().getLong(0) == 0, "the deleted mistake must stay deleted on main")
    assert(ManifestTable.branches(dir).isEmpty)
    assert(ManifestTable.latestVersion(dir).contains(7L),
      "3 staged appends + 3 staged CoW rewrites publish as 6 main commits")
  }

  test("SQL UPDATE on an UNTRACKED column: runtime group filtering narrows the rewrite without losing rows") {
    // matches confined to one file's id range, predicate on a column
    // with no envelope stats: static pruning can't narrow, so Spark's
    // runtime group filter does (via the matched rows' TRACKED id
    // values) — and the commit's removed() set must follow the
    // narrowed scan, or every un-read file is swapped away (the
    // silent-data-loss shape this spec pins)
    val dir = s"$warehouse/lake/rtup"
    new java.io.File(dir).mkdirs()
    val df = (1 to 1000).map(i => (i.toLong, i.toLong, if (i <= 10) "hot" else s"s${i % 13}"))
      .toDF("id", "k", "cat")
    ManifestTable.commit(df.repartitionByRange(5, $"id"), dir, track = Seq("id"))
    val before = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    spark.sql("UPDATE graft.lake.rtup SET k = -1 WHERE cat = 'hot'")
    assert(spark.sql("SELECT count(*) FROM graft.lake.rtup").head().getLong(0) == 1000,
      "rows outside the rewritten groups must survive the commit")
    assert(spark.sql("SELECT count(*) FROM graft.lake.rtup WHERE k = -1")
      .head().getLong(0) == 10, "exactly the matching rows must update")
    val after = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    assert((before intersect after).size >= 4,
      s"the rewrite must swap only the group(s) holding matches: " +
        s"${(before -- after).size} of ${before.size} files replaced")
  }

  test("a plain-SQL-DML branch rewrite cherry-picks onto a diverged main") {
    val dir = mkTable("lake", "wappick")
    spark.sql("CALL graft.system.create_branch(table => 'lake.wappick', name => 'fix')")
    spark.conf.set("spark.graft.wap.branch", "fix")
    try
      // plain DELETE while routing = branch CoW rewrite commit (v2)
      spark.sql("DELETE FROM graft.lake.wappick WHERE id <= 5")
    finally spark.conf.unset("spark.graft.wap.branch")
    // main diverges with an unrelated append: fast_forward refuses...
    spark.sql("INSERT INTO graft.lake.wappick VALUES (8001, 1, 'later')")
    val ef = intercept[Exception](spark.sql(
      "CALL graft.system.fast_forward(table => 'lake.wappick', name => 'fix')"))
    assert(ef.getMessage.contains("advanced past the branch base"), ef.getMessage)
    // ...but the rewrite commit REPLAYS: same file swap, fresh main version
    spark.sql(
      "CALL graft.system.cherry_pick(table => 'lake.wappick', name => 'fix', version => 2)")
    assert(spark.sql("SELECT count(*) FROM graft.lake.wappick").head().getLong(0) == 996,
      "1000 - 5 deleted + 1 diverged append")
    assert(spark.sql("SELECT count(*) FROM graft.lake.wappick WHERE id <= 5")
      .head().getLong(0) == 0, "the cherry-picked SQL DELETE must apply on main")
    assert(spark.sql("SELECT count(*) FROM graft.lake.wappick WHERE id = 8001")
      .head().getLong(0) == 1, "the diverged append must survive the replay")
  }

  test("spark.graft.wap.branch: a branch read with pending MoR tombstones serves the APPLIED view") {
    val dir = mkTable("lake", "wapmor")
    // tombstones land on MAIN before the fork: the branch inherits them
    ManifestTable.deleteByKey(Seq(5L, 6L).toDF("id"), dir, keys = Seq("id"))
    spark.sql("CALL graft.system.create_branch(table => 'lake.wapmor', name => 'stage')")
    spark.conf.set("spark.graft.wap.branch", "stage")
    try {
      spark.sql("INSERT INTO graft.lake.wapmor VALUES (7001, 1, 'staged')")
      // the plain read is the branch head THROUGH MorApplyRewrite:
      // tombstoned keys gone, staged row visible
      val got = spark.sql(
        "SELECT count(*) AS n, count(CASE WHEN id IN (5, 6) THEN 1 END) AS doomed, " +
          "count(CASE WHEN id = 7001 THEN 1 END) AS staged FROM graft.lake.wapmor").head()
      assert(got.getLong(0) == 999 && got.getLong(1) == 0 && got.getLong(2) == 1,
        s"branch read must apply inherited tombstones: $got")
    } finally spark.conf.unset("spark.graft.wap.branch")
    // main: tombstones applied, no staged row
    assert(spark.sql("SELECT count(*) FROM graft.lake.wapmor").head().getLong(0) == 998)
  }

  test("spark.graft.wap.branch: writeStream.toTable routes epochs onto the branch, exactly-once") {
    val dir = mkTable("lake", "wapstream")
    spark.sql("CALL graft.system.create_branch(table => 'lake.wapstream', name => 'ingest')")
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](spark)
    src.addData(7001L, 7002L)
    spark.conf.set("spark.graft.wap.branch", "ingest")
    try {
      val q = src.toDF().selectExpr("value AS id", "0L AS k", "'streamed' AS cat")
        .writeStream.option("checkpointLocation", tmpDir("wap-stream-ckpt").toString)
        .toTable("graft.lake.wapstream")
      try q.processAllAvailable() finally q.stop()
      assert(spark.sql("SELECT count(*) FROM graft.lake.wapstream").head().getLong(0) == 1002,
        "streamed epochs must land on the branch")
      spark.conf.unset("spark.graft.wap.branch")
      assert(spark.sql("SELECT count(*) FROM graft.lake.wapstream").head().getLong(0) == 1000,
        "main must not see streamed branch epochs")
      spark.conf.set("spark.graft.wap.branch", "ingest")
      spark.sql("CALL graft.system.fast_forward(table => 'lake.wapstream', name => 'ingest')")
    } finally spark.conf.unset("spark.graft.wap.branch")
    assert(spark.sql("SELECT id FROM graft.lake.wapstream WHERE cat = 'streamed'")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(7001L, 7002L))
  }

  test("spark.graft.wap.branch: streaming reads REFUSE a branch-head baseline") {
    // branch manifests use branch-local version numbers that alias
    // main's: a stream baselined on one would checkpoint offsets that
    // bind a DIFFERENT main snapshot after the branch is dropped
    val _ = mkTable("lake", "wapsr")
    spark.sql("CALL graft.system.create_branch(table => 'lake.wapsr', name => 'stage')")
    spark.conf.set("spark.graft.wap.branch", "stage")
    try {
      val e = intercept[Exception] {
        val q = spark.readStream.table("graft.lake.wapsr").writeStream
          .format("memory").queryName("wapsr_mem")
          .option("checkpointLocation", tmpDir("wapsr-ckpt").toString).start()
        try q.processAllAvailable() finally { try q.stop() catch { case _: Exception => () } }
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.toString +: chain(t.getCause)
      val msgs = chain(e).mkString(" | ")
      assert(msgs.contains("branch") && msgs.contains("wap.branch"),
        s"refusal must name the branch baseline and the routing knob: $msgs")
    } finally spark.conf.unset("spark.graft.wap.branch")
  }

  test("hidden partitioning: days/bucket/truncate transforms prune from SOURCE-column predicates") {
    val _ = warehouse
    spark.sql("CREATE TABLE graft.lake.hidden (ts TIMESTAMP, user_id BIGINT, name STRING) " +
      "PARTITIONED BY (days(ts), bucket(8, user_id), truncate(3, name))")
    // 4 inserts, one per calendar day (a 1h span each), each with ONE
    // user_id and ONE 3-char name prefix — so every transform gets
    // tight per-file envelopes
    val uids = Seq(101L, 202L, 303L, 404L)
    val pfx = Seq("aaa", "bbb", "ccc", "ddd")
    for (d <- 1 to 4)
      spark.sql(
        s"INSERT INTO graft.lake.hidden SELECT timestamp'2026-01-0$d 01:00:00' + " +
          s"make_interval(0, 0, 0, 0, 0, 0, id), ${uids(d - 1)}, " +
          s"concat('${pfx(d - 1)}', id) FROM range(0, 100, 1, 1)")
    // days: a range on ts (never on a day column) prunes to one file
    val qd = spark.sql("SELECT ts FROM graft.lake.hidden WHERE " +
      "ts >= timestamp'2026-01-02 00:30:00' AND ts < timestamp'2026-01-02 23:00:00'")
    assert(scannedFiles(qd).size == 1,
      s"days(ts) must prune a ts range to 1 file, got ${scannedFiles(qd).size}")
    assert(qd.count() == 100)
    // bucket: equality on user_id prunes to the files sharing 202's bucket
    import graft.sources.TrackSpec
    val spec = TrackSpec.parse("bucket(8,user_id)")
    val b202 = TrackSpec.literal(spec, 202L, org.apache.spark.sql.types.LongType)
    val expectBucketFiles =
      uids.count(u => TrackSpec.literal(spec, u, org.apache.spark.sql.types.LongType) == b202)
    val qb = spark.sql("SELECT user_id FROM graft.lake.hidden WHERE user_id = 202")
    assert(scannedFiles(qb).size == expectBucketFiles,
      s"bucket(8,user_id) must prune to the $expectBucketFiles file(s) sharing the " +
        s"bucket, got ${scannedFiles(qb).size}")
    assert(qb.count() == 100)
    // truncate: a point predicate on name prunes via the 3-char prefix
    val qt = spark.sql("SELECT name FROM graft.lake.hidden WHERE name = 'ccc7'")
    assert(scannedFiles(qt).size == 1,
      s"truncate(3,name) must prune a name point to 1 file, got ${scannedFiles(qt).size}")
    assert(qt.count() == 1)
    // and a range on name prunes too (monotone prefix)
    val qtr = spark.sql(
      "SELECT name FROM graft.lake.hidden WHERE name >= 'bba' AND name <= 'bzz'")
    assert(scannedFiles(qtr).size == 1)
    assert(qtr.count() == 100)
    // the transforms are HIDDEN: no synthetic column in the schema
    assert(spark.table("graft.lake.hidden").columns.toSeq == Seq("ts", "user_id", "name"))
    // calendar transforms: a months(ts) table prunes a month-straddling
    // ts range to the overlapping month's files only
    spark.sql("CREATE TABLE graft.lake.hiddenm (ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (months(ts))")
    for (m <- Seq("01", "02", "03"))
      spark.sql(s"INSERT INTO graft.lake.hiddenm SELECT timestamp'2026-$m-10 01:00:00' + " +
        "make_interval(0, 0, 0, 0, 0, 0, id), id FROM range(0, 50, 1, 1)")
    // (a bound at exactly the month boundary would admit March too:
    // strict source bounds derive as NON-strict transformed bounds —
    // the conservative widening a collapsing transform requires)
    val qm = spark.sql("SELECT ts FROM graft.lake.hiddenm WHERE " +
      "ts >= timestamp'2026-02-01 00:00:00' AND ts < timestamp'2026-02-20 00:00:00'")
    assert(scannedFiles(qm).size == 1,
      s"months(ts) must prune a month range to 1 file, got ${scannedFiles(qm).size}")
    assert(qm.count() == 50)
    // renaming a transform source SURVIVES (spec re-renders, envelopes
    // reachable through the key-alias chain — the dedicated rename spec
    // audits pruning); dropping one still refuses loudly
    spark.sql("ALTER TABLE graft.lake.hidden RENAME COLUMN ts TO event_ts")
    assert(ManifestTable.manifest(mkTableDir("lake", "hidden"), None).track
      .contains("days(event_ts)"))
    val ed = intercept[Exception](
      spark.sql("ALTER TABLE graft.lake.hidden DROP COLUMN name"))
    assert(ed.getMessage.contains("hidden-partitioning"), ed.getMessage)
  }

  test("track-spec evolution extends to transforms: add_tracked_column('days(ts)')") {
    val _ = warehouse
    spark.sql("CREATE TABLE graft.lake.hevo (ts TIMESTAMP, v BIGINT)")
    spark.sql("INSERT INTO graft.lake.hevo SELECT timestamp'2026-03-01 01:00:00' + " +
      "make_interval(0, 0, 0, 0, 0, 0, id), id FROM range(0, 50, 1, 1)") // pre-evolution file
    spark.sql("CALL graft.system.add_tracked_column('lake.hevo', 'days(ts)')")
    spark.sql("INSERT INTO graft.lake.hevo SELECT timestamp'2026-03-05 01:00:00' + " +
      "make_interval(0, 0, 0, 0, 0, 0, id), id FROM range(0, 50, 1, 1)") // post-evolution file
    // a day range matching NEITHER insert: the post-evolution file is
    // pruned by its transformed envelope; the pre-evolution file has no
    // envelope and must ALWAYS scan (the Iceberg spec-evolution contract)
    val q = spark.sql("SELECT ts FROM graft.lake.hevo WHERE " +
      "ts >= timestamp'2026-03-10 00:00:00' AND ts < timestamp'2026-03-11 00:00:00'")
    assert(scannedFiles(q).size == 1,
      s"pre-evolution file must scan, post-evolution must prune: got ${scannedFiles(q).size}")
    assert(q.count() == 0)
    // compaction rewrites everything under the current spec: now both prune
    graft.sources.ManifestTable.replace(
      graft.sources.ManifestTable.snapshot(spark, s"$warehouse/lake/hevo"),
      s"$warehouse/lake/hevo",
      graft.sources.ManifestTable.manifest(s"$warehouse/lake/hevo", None).track)
    val q2 = spark.sql("SELECT ts FROM graft.lake.hevo WHERE " +
      "ts >= timestamp'2026-03-10 00:00:00' AND ts < timestamp'2026-03-11 00:00:00'")
    assert(scannedFiles(q2).isEmpty,
      s"after compaction every file carries the transformed envelope: ${scannedFiles(q2)}")
  }

  test("CALL graft.system.zorder: two-dimension pruning after re-clustering, content-neutral") {
    val _ = warehouse
    spark.sql("CREATE TABLE graft.lake.zod (x BIGINT, y BIGINT, v BIGINT) " +
      "PARTITIONED BY (x, y)")
    // hash-scattered load: every one of the 8 files spans the full
    // range of BOTH dimensions, so no filter can prune anything
    spark.sql("INSERT INTO graft.lake.zod SELECT pmod(id * 48271, 1024), " +
      "pmod(id * 69621, 1024), id FROM range(0, 20000, 1, 8)")
    def content() = spark.sql(
      "SELECT count(*) AS n, CAST(sum(hash(x, y, v)) AS BIGINT) AS h FROM graft.lake.zod")
      .head()
    def filesFor(cond: String): Int =
      scannedFiles(spark.sql(s"SELECT v FROM graft.lake.zod WHERE $cond")).size
    val before = content()
    assert(filesFor("x >= 0 AND x < 128") == 8, "scattered layout must defeat pruning")
    spark.sql("CALL graft.system.zorder(table => 'lake.zod', cols => 'x,y', " +
      "bits => 10, num_files => 16)")
    assert(content() == before, "z-order re-clustering must be content-neutral")
    // z-ordered files tile the (x, y) plane: a stripe on EITHER
    // dimension prunes to the tiles it crosses, and a corner query to
    // nearly one
    val xs = filesFor("x >= 0 AND x < 128")
    val ys = filesFor("y >= 0 AND y < 128")
    val xy = filesFor("x >= 0 AND x < 128 AND y >= 0 AND y < 128")
    assert(xs <= 8 && ys <= 8,
      s"either-dimension stripes must prune z-ordered tiles: x=$xs, y=$ys of 16")
    assert(xy <= 4, s"a corner query must prune to ~one tile: $xy of 16")
    // maintain chains it: the cadence with zorder_by re-clusters
    // instead of binpacking, same content
    spark.sql("CALL graft.system.maintain(table => 'lake.zod', cluster_by => 'x', " +
      "target_files => 16, zorder_by => 'x,y')")
    assert(content() == before, "maintain's z-order pass must stay content-neutral")
    assert(filesFor("x >= 0 AND x < 128 AND y >= 0 AND y < 128") <= 4)
    // N-dimensional: a THREE-column z-order tiles the cube — every
    // single-dimension stripe prunes, and the corner query prunes most
    spark.sql("CREATE TABLE graft.lake.zod3 (x BIGINT, y BIGINT, z BIGINT, v BIGINT) " +
      "PARTITIONED BY (x, y, z)")
    spark.sql("INSERT INTO graft.lake.zod3 SELECT pmod(id * 48271, 512), " +
      "pmod(id * 69621, 512), pmod(id * 16807, 512), id FROM range(0, 20000, 1, 8)")
    spark.sql("CALL graft.system.zorder(table => 'lake.zod3', cols => 'x,y,z', " +
      "bits => 9, num_files => 16)")
    def files3(cond: String): Int =
      scannedFiles(spark.sql(s"SELECT v FROM graft.lake.zod3 WHERE $cond")).size
    // margin note: tile boundaries come from repartitionByRange's
    // sampling over the snapshot read, whose partition packing shifts
    // with byte-level parquet size wobble — stripe crossings move by
    // ±1 run to run (observed 9-11 of 16). The assertion is "stripes
    // prune vs 16", not an exact tiling.
    assert(files3("x < 64") <= 12 && files3("y < 64") <= 12 && files3("z < 64") <= 12,
      s"each dimension must prune: x=${files3("x < 64")}, y=${files3("y < 64")}, " +
        s"z=${files3("z < 64")} of 16")
    assert(files3("x < 64 AND y < 64 AND z < 64") <= 4,
      s"the corner must prune to ~one tile: ${files3("x < 64 AND y < 64 AND z < 64")}")
  }

  test("hidden partitioning SURVIVES renaming the transform's source column") {
    val _ = warehouse
    spark.sql("CREATE TABLE graft.lake.hren (ts TIMESTAMP, v BIGINT) PARTITIONED BY (days(ts))")
    for (d <- 1 to 2) // two PRE-rename day files, envelopes keyed days(ts)
      spark.sql(s"INSERT INTO graft.lake.hren SELECT timestamp'2026-04-0$d 01:00:00' + " +
        s"make_interval(0, 0, 0, 0, 0, 0, id), id FROM range(0, 100, 1, 1)")
    spark.sql("ALTER TABLE graft.lake.hren RENAME COLUMN ts TO event_ts")
    val dir = mkTableDir("lake", "hren")
    // the spec string re-renders over the new source name...
    assert(ManifestTable.manifest(dir, None).track.contains("days(event_ts)"),
      s"track spec must follow the rename: ${ManifestTable.manifest(dir, None).track}")
    // ...and post-rename commits envelope under the NEW key
    spark.sql("INSERT INTO graft.lake.hren SELECT timestamp'2026-04-03 01:00:00' + " +
      "make_interval(0, 0, 0, 0, 0, 0, id), id FROM range(0, 100, 1, 1)")
    // renamed tables read through the era-union plan (V1 relations);
    // collect what each era's relation will actually open
    def optFiles(df: DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.inputFiles.toSeq
      }.flatten
    // a day-2 range on the NEW name prunes to the one PRE-rename file
    // (old envelope found through the key-alias chain days(event_ts) ->
    // days(ts); the day-3 post-rename file prunes on its own new key)
    // (23:00 upper bounds: a bound at exactly midnight widens to the
    // NEXT day ordinal — strict source bounds derive as non-strict
    // transformed bounds, the conservative collapsing-transform rule)
    val q2 = spark.sql("SELECT event_ts FROM graft.lake.hren WHERE " +
      "event_ts >= timestamp'2026-04-02 00:00:00' AND event_ts < timestamp'2026-04-02 23:00:00'")
    assert(optFiles(q2).size == 1, s"want 1 pre-rename file, got ${optFiles(q2)}")
    assert(q2.count() == 100)
    // a day-3 range prunes to the one POST-rename file
    val q3 = spark.sql("SELECT event_ts FROM graft.lake.hren WHERE " +
      "event_ts >= timestamp'2026-04-03 00:00:00' AND event_ts < timestamp'2026-04-03 23:00:00'")
    assert(optFiles(q3).size == 1, s"want 1 post-rename file, got ${optFiles(q3)}")
    assert(q3.count() == 100)
    // the API proof surface agrees: livePaths on the re-rendered spec
    val day2 = java.time.LocalDate.of(2026, 4, 2).toEpochDay
    assert(ManifestTable.livePaths(spark, dir, "days(event_ts)", lit(day2), lit(day2)).size == 1,
      "livePaths must resolve old envelopes through the key-alias chain")
  }

  test("CREATE VIEW through the catalog: persisted on disk, pruning intact, DROP works") {
    val _ = mkTable("lake", "vbase")
    spark.sql("CREATE VIEW graft.lake.v_recent AS " +
      "SELECT id, k FROM graft.lake.vbase WHERE id >= 900")
    assert(spark.sql("SELECT count(*) FROM graft.lake.v_recent").head().getLong(0) == 101)
    // the view expands to its text and plans through the same catalog
    // scan: the id-range predicate prunes files exactly like the
    // direct query would
    val qv = spark.sql("SELECT id FROM graft.lake.v_recent")
    assert(scannedFiles(qv).size == 1,
      s"a view over a manifest table must still prune: ${scannedFiles(qv).size} of 5 files")
    assert(spark.sql("SHOW VIEWS IN graft.lake").collect()
      .map(_.getString(1)).contains("v_recent"))
    // duplicate name refuses; a second CATALOG INSTANCE over the same
    // warehouse resolves the persisted document (restart survival —
    // the JSON file, not session state, is the source of truth)
    val dup = intercept[Exception](spark.sql(
      "CREATE VIEW graft.lake.v_recent AS SELECT 1 AS one"))
    assert(dup.getMessage.toLowerCase.contains("already exists"), dup.getMessage)
    spark.conf.set("spark.sql.catalog.graftv2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftv2.warehouse", warehouse)
    assert(spark.sql("SELECT count(*) FROM graftv2.lake.v_recent").head().getLong(0) == 101,
      "a fresh catalog instance must serve the persisted view document")
    // rename + drop round-trip (ALTER VIEW RENAME rides the same
    // parse-time rewrite; the document moves, the definition survives)
    spark.sql("ALTER VIEW graft.lake.v_recent RENAME TO v_tail")
    assert(spark.sql("SELECT count(*) FROM graft.lake.v_tail").head().getLong(0) == 101)
    spark.sql("DROP VIEW graft.lake.v_tail")
    val gone = intercept[Exception](spark.sql("SELECT * FROM graft.lake.v_tail").collect())
    assert(gone.getMessage.toLowerCase.contains("cannot be found") ||
      gone.getMessage.toLowerCase.contains("not found"), gone.getMessage)
  }

  test("CREATE OR REPLACE VIEW and IF NOT EXISTS follow the session-catalog semantics") {
    val _ = mkTable("lake", "vbase2")
    spark.sql("CREATE VIEW graft.lake.v_sem AS SELECT id FROM graft.lake.vbase2 WHERE id <= 10")
    assert(spark.sql("SELECT count(*) FROM graft.lake.v_sem").head().getLong(0) == 10)
    // IF NOT EXISTS: existing definition wins, silently
    spark.sql("CREATE VIEW IF NOT EXISTS graft.lake.v_sem AS SELECT 1 AS one")
    assert(spark.sql("SELECT count(*) FROM graft.lake.v_sem").head().getLong(0) == 10,
      "IF NOT EXISTS must keep the existing definition")
    // OR REPLACE: the new definition swaps in (one document overwrite)
    spark.sql("CREATE OR REPLACE VIEW graft.lake.v_sem AS " +
      "SELECT id FROM graft.lake.vbase2 WHERE id <= 25")
    assert(spark.sql("SELECT count(*) FROM graft.lake.v_sem").head().getLong(0) == 25,
      "OR REPLACE must swap the definition")
    // DESCRIBE resolves the persisted document (extended carries the text)
    val desc = spark.sql("DESCRIBE EXTENDED graft.lake.v_sem").collect()
    assert(desc.exists(r => r.getString(0) == "id" && r.getString(1) == "bigint"), desc.toSeq)
    assert(desc.exists(r => r.getString(0) == "View Text" && r.getString(1).contains("SELECT")),
      desc.toSeq)
    // a view over a view: the expansion re-enters resolution, so the
    // inner reference (itself a persisted document) expands in turn
    spark.sql("CREATE VIEW graft.lake.v_outer AS " +
      "SELECT id FROM graft.lake.v_sem WHERE id > 5")
    assert(spark.sql("SELECT count(*) FROM graft.lake.v_outer").head().getLong(0) == 20,
      "a view over a view must expand recursively")
    spark.sql("DROP VIEW graft.lake.v_outer")
    spark.sql("DROP VIEW IF EXISTS graft.lake.v_sem")
    spark.sql("DROP VIEW IF EXISTS graft.lake.v_sem") // second drop: silent
    val e = intercept[Exception](spark.sql("DROP VIEW graft.lake.v_sem"))
    assert(e.getMessage.toLowerCase.contains("view"), e.getMessage)
  }

  test("DELETE with an un-pushable condition falls back to the group rewrite, losing nothing") {
    // `id % 7 = 0` is outside the deleteWhere filter algebra
    // (canDeleteWhere false), so the statement runs as a group-based
    // CoW rewrite: matched groups re-write WITHOUT the matching rows,
    // every other row survives — the same whole-group read discipline
    // as UPDATE/MERGE (a pushed condition here would flip the output
    // to ONLY the matching rows' complement per surviving page)
    val dir = s"$warehouse/lake/rtdel"
    new java.io.File(dir).mkdirs()
    val df = (1 to 1000).map(i => (i.toLong, i.toLong, s"s${i % 13}")).toDF("id", "k", "cat")
    ManifestTable.commit(df.repartitionByRange(5, $"id"), dir, track = Seq("id"))
    spark.sql("DELETE FROM graft.lake.rtdel WHERE id % 7 = 0")
    val n = spark.sql("SELECT count(*) FROM graft.lake.rtdel").head().getLong(0)
    assert(n == 1000 - 142, s"exactly the 142 multiples of 7 must go: $n")
    assert(spark.sql("SELECT count(*) FROM graft.lake.rtdel WHERE id % 7 = 0")
      .head().getLong(0) == 0)
  }

  test("SQL MERGE on an UNTRACKED column predicate: narrowed group rewrite loses nothing") {
    // the MERGE twin of the UPDATE data-loss pin: matches confined to
    // one file, join key untracked — the commit's removed() set must
    // follow the runtime-narrowed scan
    val dir = s"$warehouse/lake/rtmg"
    new java.io.File(dir).mkdirs()
    val df = (1 to 1000).map(i => (i.toLong, i.toLong, if (i <= 10) "hot" else s"s${i % 13}"))
      .toDF("id", "k", "cat")
    ManifestTable.commit(df.repartitionByRange(5, $"id"), dir, track = Seq("id"))
    spark.sql(
      """MERGE INTO graft.lake.rtmg t
        |USING (SELECT 'hot' AS cat, -7L AS newk) s
        |ON t.cat = s.cat
        |WHEN MATCHED THEN UPDATE SET k = s.newk""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM graft.lake.rtmg").head().getLong(0) == 1000,
      "rows outside the rewritten groups must survive the merge commit")
    assert(spark.sql("SELECT count(*) FROM graft.lake.rtmg WHERE k = -7")
      .head().getLong(0) == 10, "exactly the matching rows must update")
  }

  test("DROP TABLE removes the table; dropping a missing table reports false") {
    mkTable("lake", "dropme")
    spark.sql("DROP TABLE graft.lake.dropme")
    assert(!new java.io.File(mkTableDir("lake", "dropme")).exists())
    val e = intercept[Exception](spark.sql("SELECT * FROM graft.lake.dropme").collect())
    assert(e.getMessage.toLowerCase.contains("table"))
  }

  test("pending MoR deletes APPLY through catalog SQL (MorApplyRewrite), incl. time travel") {
    val dir = mkTable("lake", "mor")
    // equality tombstones (seq-scoped) + a positional tombstone stack
    ManifestTable.deleteByKey(Seq(1L, 5L, 900L).toDF("id"), dir, Seq("id"))
    ManifestTable.deleteWhere(spark, dir, $"id" === 10L)
    val morV = ManifestTable.latestVersion(dir).get
    assert(ManifestTable.manifest(dir, None).hasMorDeletes)
    // bare SQL read == applied snapshot, bit for bit
    assert(spark.sql("SELECT count(*) FROM graft.lake.mor").head().getLong(0) == 996)
    val got = spark.sql(
      "SELECT cat, count(*) AS n, sum(id) AS s FROM graft.lake.mor GROUP BY cat ORDER BY cat")
      .collect().toSeq
    val want = ManifestTable.snapshot(spark, dir)
      .groupBy("cat").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .orderBy("cat").collect().toSeq
    assert(got == want)
    // a re-inserted key is NOT shadowed by the old tombstone through SQL
    // either (sequence rule holds on the rewritten plan)
    ManifestTable.commit(Seq((5L, 0L, "back")).toDF("id", "k", "cat"), dir, Seq("id"))
    assert(spark.sql("SELECT count(*) FROM graft.lake.mor WHERE id = 5").head().getLong(0) == 1)
    // VERSION AS OF a tombstone-carrying snapshot applies ITS tombstones
    assert(spark.sql(s"SELECT count(*) FROM graft.lake.mor VERSION AS OF $morV")
      .head().getLong(0) == 996)
    // materialization folds the debt; the V2 fast path serves again
    ManifestTable.materializeDeletes(spark, dir)
    val clean = spark.sql("SELECT cat FROM graft.lake.mor WHERE id = 42")
    assert(scannedFiles(clean).nonEmpty, "clean table must plan through the V2 scan")
    assert(spark.sql("SELECT count(*) FROM graft.lake.mor").head().getLong(0) == 997)
  }

  test("vacuum never collects streaming-write data (nested epoch staging dirs)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.sql("CREATE TABLE graft.lake.vacstream (id BIGINT, v STRING) PARTITIONED BY (id)")
    val dir = mkTableDir("lake", "vacstream")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("id", "v").writeStream
      .option("checkpointLocation", tmpDir("vacstream-ckpt").toString)
      .toTable("graft.lake.vacstream")
    try {
      in.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      in.addData((3L, "c")); q.processAllAvailable()
    } finally q.stop()
    assert(spark.sql("SELECT count(*) FROM graft.lake.vacstream").head().getLong(0) == 3)
    // streamed files live at data/c-stream-<uuid>/e<epoch>/part-*; a vacuum
    // keyed on IMMEDIATE parent names would see the top-level stream dir as
    // unreferenced and delete committed data
    ManifestTable.vacuum(dir, minAgeMs = -1L)
    assert(spark.sql("SELECT sum(id) FROM graft.lake.vacstream").head().getLong(0) == 6L,
      "vacuum must keep manifest-referenced streaming epochs readable")
    // and a genuinely-orphaned sibling stream dir IS collected
    val orphan = new java.io.File(dir, "data/c-stream-orphan/e0")
    orphan.mkdirs()
    java.nio.file.Files.write(orphan.toPath.resolve("part-junk.parquet"), Array[Byte](1))
    ManifestTable.vacuum(dir, minAgeMs = -1L)
    assert(!new java.io.File(dir, "data/c-stream-orphan").exists(),
      "unreferenced stream staging must still be reclaimed")
    assert(spark.sql("SELECT count(*) FROM graft.lake.vacstream").head().getLong(0) == 3)
  }

  test("_version is a reserved column name: CREATE / ADD COLUMN / RENAME-to all refuse") {
    val e1 = intercept[Exception](
      spark.sql("CREATE TABLE graft.lake.badv (id BIGINT, _version BIGINT)"))
    assert(e1.getMessage.contains("_version"), s"got: ${e1.getMessage}")
    mkTable("lake", "resv")
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.lake.resv ADD COLUMN _version BIGINT"))
    assert(e2.getMessage.contains("reserved"), s"got: ${e2.getMessage}")
    val e3 = intercept[Exception](
      spark.sql("ALTER TABLE graft.lake.resv RENAME COLUMN cat TO _version"))
    assert(e3.getMessage.contains("reserved"), s"got: ${e3.getMessage}")
    // the metadata column still serves
    assert(spark.sql("SELECT max(_version) FROM graft.lake.resv").head().getLong(0) == 1L)
  }

  test("multi-change ALTER TABLE is all-or-nothing: a failing change applies none") {
    mkTable("lake", "atomalt")
    spark.sql("ALTER TABLE graft.lake.atomalt RENAME COLUMN cat TO category")
    val schemaBefore = ManifestTable.manifest(mkTableDir("lake", "atomalt"), None).schemaJson
    val vBefore = ManifestTable.latestVersion(mkTableDir("lake", "atomalt")).get
    // second rename targets the retired name 'cat' -> whole ALTER must fail
    // with the FIRST rename not applied either
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = Identifier.of(Array("lake"), "atomalt")
    val e = intercept[Exception](cat.alterTable(ident,
      TableChange.renameColumn(Array("k"), "kk"),
      TableChange.renameColumn(Array("category"), "cat")))
    assert(e.getMessage.contains("retired"), s"got: ${e.getMessage}")
    val dir = mkTableDir("lake", "atomalt")
    assert(ManifestTable.latestVersion(dir).get == vBefore,
      "failed multi-change ALTER must commit nothing")
    assert(ManifestTable.manifest(dir, None).schemaJson == schemaBefore)
    // and a valid multi-change set still applies as a whole
    cat.alterTable(ident,
      TableChange.renameColumn(Array("k"), "kk"),
      TableChange.deleteColumn(Array("category"), java.lang.Boolean.FALSE))
    assert(spark.table("graft.lake.atomalt").columns.toSeq == Seq("id", "kk"))
  }

  test("multi-change ALTER pre-validates widen/comment/nullability too: no partial commit") {
    warehouse: Unit
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    spark.sql("CREATE TABLE graft.lake.atomalt2 (id BIGINT, n INT, cat STRING)")
    spark.sql("INSERT INTO graft.lake.atomalt2 VALUES (1, 2, 'a')")
    val dir = mkTableDir("lake", "atomalt2")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = Identifier.of(Array("lake"), "atomalt2")
    val vBefore = ManifestTable.latestVersion(dir).get
    val schemaBefore = ManifestTable.manifest(dir, None).schemaJson
    // a comment batched with an UNSAFE retype: neither may land
    val e = intercept[Exception](cat.alterTable(ident,
      TableChange.updateColumnComment(Array("id"), "the key"),
      TableChange.updateColumnType(Array("cat"), LongType)))
    assert(e.getMessage.contains("not a safe metadata-only widening"), e.getMessage)
    assert(ManifestTable.latestVersion(dir).get == vBefore,
      "the batched comment must not have committed")
    assert(ManifestTable.manifest(dir, None).schemaJson == schemaBefore)
    // an ADD batched with SET NOT NULL: the add must not land either
    val e2 = intercept[Exception](cat.alterTable(ident,
      TableChange.addColumn(Array("tag"), StringType),
      TableChange.updateColumnNullability(Array("n"), false)))
    assert(e2.getMessage.contains("data claim"), e2.getMessage)
    assert(ManifestTable.latestVersion(dir).get == vBefore,
      "the batched ADD COLUMN must not have committed")
    // retyping a column renamed EARLIER in the same batch validates
    // against the post-rename name, and a valid widen + comment batch
    // applies as a whole
    cat.alterTable(ident,
      TableChange.renameColumn(Array("n"), "nn"),
      TableChange.updateColumnType(Array("nn"), LongType),
      TableChange.updateColumnComment(Array("nn"), "widened"))
    val after = spark.table("graft.lake.atomalt2").schema
    assert(after("nn").dataType == LongType)
    assert(after("nn").metadata.getString("comment") == "widened")
    // a bucket track source refuses the widen even behind its own
    // in-batch rename — and the batched comment stays un-committed
    spark.sql("CREATE TABLE graft.lake.atomalt3 (id INT, v STRING) " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO graft.lake.atomalt3 VALUES (7, 'x')")
    val dir3 = mkTableDir("lake", "atomalt3")
    val v3 = ManifestTable.latestVersion(dir3).get
    val e3 = intercept[Exception](cat.alterTable(Identifier.of(Array("lake"), "atomalt3"),
      TableChange.updateColumnComment(Array("v"), "val"),
      TableChange.renameColumn(Array("id"), "key"),
      TableChange.updateColumnType(Array("key"), LongType)))
    assert(e3.getMessage.contains("bucket"), e3.getMessage)
    assert(ManifestTable.latestVersion(dir3).get == v3, "nothing may have committed")
  }

  test("a statically-pruned-to-empty scan reports ZERO rows to the CBO, not the table's count") {
    mkTable("lake", "emptyprune") // ids 1..1000, tracked on id
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      // every file's id envelope tops out at 1000: the pushed filter
      // prunes the survivor list to EMPTY, which must not be confused
      // with "no planning info" (the full-table fallback)
      val scan = spark.table("graft.lake.emptyprune").filter($"id" > 5000)
      val stats = scan.queryExecution.optimizedPlan.collectLeaves().head.stats
      assert(stats.rowCount.contains(BigInt(0)),
        s"an empty scan must advertise 0 rows, got ${stats.rowCount}")
      assert(scan.count() == 0)
      // the non-empty path still reports the exact pruned-file row sum
      val some = spark.table("graft.lake.emptyprune").filter($"id" <= 200)
        .queryExecution.optimizedPlan.collectLeaves().head.stats
      assert(some.rowCount.exists(rc => rc > 0 && rc < BigInt(1000)),
        s"a pruned scan must report the survivor files' rows, got ${some.rowCount}")
    } finally prev.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
      spark.conf.set("spark.sql.cbo.enabled", _))
  }

  test("TBLPROPERTIES persist in the manifest: CTAS writes them, commits carry them, a fresh catalog reads them") {
    warehouse: Unit
    spark.sql(
      "CREATE TABLE graft.lake.props TBLPROPERTIES('team'='curation', 'pii'='true') " +
        "AS SELECT * FROM VALUES (1L, 'a'), (2L, 'b') AS t(id, v)")
    def shown(tbl: String): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES $tbl").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val p0 = shown("graft.lake.props")
    assert(p0.get("team").contains("curation") && p0.get("pii").contains("true"))
    // Spark's CTAS bookkeeping keys must NOT have persisted
    val dir = mkTableDir("lake", "props")
    val persisted = ManifestTable.manifest(dir, None).props
    assert(persisted == Map("team" -> "curation", "pii" -> "true"),
      s"only user TBLPROPERTIES persist, got $persisted")
    // every commit kind carries them: append, overwrite-replace, CoW rewrite
    spark.sql("INSERT INTO graft.lake.props VALUES (3L, 'c')")
    spark.sql("INSERT OVERWRITE graft.lake.props SELECT * FROM VALUES (9L, 'z') AS t(id, v)")
    spark.sql("DELETE FROM graft.lake.props WHERE id = 9")
    assert(ManifestTable.manifest(dir, None).props == persisted,
      "append/replace/rewrite commits must carry table properties forward")
    // a different catalog instance over the same warehouse sees them
    spark.conf.set("spark.sql.catalog.graftp2", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftp2.warehouse", warehouse)
    assert(shown("graftp2.lake.props").get("team").contains("curation"))
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES: metadata-only, snapshot-versioned, validated eagerly") {
    val dir = mkTable("lake", "propalter")
    val before = ManifestTable.manifest(dir, None)
    spark.sql("ALTER TABLE graft.lake.propalter SET TBLPROPERTIES('tier'='hot', 'owner.team'='ml')")
    val after = ManifestTable.manifest(dir, None)
    assert(after.props == Map("tier" -> "hot", "owner.team" -> "ml"))
    assert(after.files.map(_.path) == before.files.map(_.path),
      "SET TBLPROPERTIES must be a metadata-only commit (zero data I/O)")
    assert(after.version == before.version + 1, "one atomic commit for a multi-key SET")
    // versioned: the pre-SET snapshot reads the old (empty) config
    assert(ManifestTable.manifest(dir, Some(before.version)).props.isEmpty)
    spark.sql("ALTER TABLE graft.lake.propalter UNSET TBLPROPERTIES('tier', 'never-set')")
    assert(ManifestTable.manifest(dir, None).props == Map("owner.team" -> "ml"),
      "UNSET drops present keys; absent keys are a no-op")
    // setting the same value again commits nothing
    val v = ManifestTable.latestVersion(dir).get
    spark.sql("ALTER TABLE graft.lake.propalter SET TBLPROPERTIES('owner.team'='ml')")
    assert(ManifestTable.latestVersion(dir).get == v, "idempotent SET must not commit")
    // vocabulary: reserved keys and bad recognized values refuse
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft.lake.propalter SET TBLPROPERTIES('write.delete.mode'='sideways')")
    ).getMessage.contains("write.delete.mode"))
    assert(intercept[Exception](
      ManifestTable.setProperties(dir, Map("provider" -> "x"))
    ).getMessage.contains("reserved"))
    // restore brings back the restored snapshot's config with its content
    ManifestTable.restore(dir, before.version)
    assert(ManifestTable.manifest(dir, None).props.isEmpty,
      "properties are snapshot-versioned: restore restores the config too")
  }

  test("write.delete.mode=merge-on-read: plain DELETE FROM commits positional tombstones, zero files rewritten") {
    warehouse: Unit
    spark.sql(
      "CREATE TABLE graft.lake.mormode TBLPROPERTIES('write.delete.mode'='merge-on-read') " +
        "AS SELECT id, id % 7 AS grp FROM range(1000)")
    val dir = mkTableDir("lake", "mormode")
    val before = ManifestTable.manifest(dir, None)
    spark.sql("DELETE FROM graft.lake.mormode WHERE grp = 3")
    val after = ManifestTable.manifest(dir, None)
    assert(after.files.map(_.path) == before.files.map(_.path),
      "merge-on-read DELETE must rewrite NO data files")
    assert(after.posDeleteFiles.nonEmpty, "the delete lands as positional tombstones")
    // readers apply the tombstones through MorApplyRewrite
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.mormode").head().getLong(0)
      == (0L until 1000L).count(_ % 7 != 3))
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.mormode WHERE grp = 3")
      .head().getLong(0) == 0)
    // flip the regime: the SAME statement now pays the rewrite and reads clean
    spark.sql("ALTER TABLE graft.lake.mormode SET TBLPROPERTIES('write.delete.mode'='copy-on-write')")
    spark.sql("DELETE FROM graft.lake.mormode WHERE grp = 5")
    val cow = ManifestTable.manifest(dir, None)
    assert(cow.files.map(_.path) != after.files.map(_.path),
      "copy-on-write DELETE rewrites the touched files")
    assert(cow.posDeleteFiles.size == after.posDeleteFiles.size,
      "the CoW rewrite composes with (and does not disturb) pending positional tombstones")
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.mormode").head().getLong(0)
      == (0L until 1000L).count(i => i % 7 != 3 && i % 7 != 5))
  }

  test("DELETE guard relaxation stays safe: repeated MoR deletes chain; UPDATE/MERGE still refuse on pending tombstones; nothing silently mis-reads") {
    warehouse: Unit
    spark.sql(
      "CREATE TABLE graft.lake.morchain TBLPROPERTIES('write.delete.mode'='merge-on-read') " +
        "AS SELECT id, id % 10 AS d FROM range(400)")
    val dir = mkTableDir("lake", "morchain")
    // consecutive DELETEs: the second runs WITH pending tombstones —
    // the exact sequence the old analysis-time guard broke
    spark.sql("DELETE FROM graft.lake.morchain WHERE d = 1")
    spark.sql("DELETE FROM graft.lake.morchain WHERE d = 2")
    val m2 = ManifestTable.manifest(dir, None)
    assert(m2.posDeleteFiles.size >= 2 && m2.files.nonEmpty)
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.morchain").head().getLong(0)
      == (0L until 400L).count(i => i % 10 != 1 && i % 10 != 2))
    // UPDATE / MERGE keep the analysis-time refusal: their group
    // rewrite has no metadata-conversion escape hatch
    val eu = intercept[Exception](
      spark.sql("UPDATE graft.lake.morchain SET d = 99 WHERE id = 5"))
    assert(eu.getMessage.contains("materializeDeletes"), s"got: ${eu.getMessage}")
    val em = intercept[Exception](spark.sql(
      "MERGE INTO graft.lake.morchain t USING (SELECT 5 AS id) s ON t.id = s.id " +
        "WHEN MATCHED THEN DELETE"))
    assert(em.getMessage.contains("materializeDeletes"), s"got: ${em.getMessage}")
    // an un-pushable DELETE on the tombstoned table must fail LOUDLY
    // (group rewrite -> toBatch guard), never drop tombstoned rows
    val ed = intercept[Exception](
      spark.sql("DELETE FROM graft.lake.morchain WHERE id % 3 = 0"))
    assert(ed.getMessage.contains("pending merge-on-read"), s"got: ${ed.getMessage}")
    // and the table is untouched by the failed statement
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.morchain").head().getLong(0)
      == (0L until 400L).count(i => i % 10 != 1 && i % 10 != 2))
    // after materialization the same un-pushable DELETE succeeds as CoW
    ManifestTable.materializeDeletes(spark, dir)
    spark.sql("DELETE FROM graft.lake.morchain WHERE id % 3 = 0")
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.morchain").head().getLong(0)
      == (0L until 400L).count(i => i % 10 != 1 && i % 10 != 2 && i % 3 != 0))
  }

  test("write.update.mode=merge-on-read: SQL UPDATE commits equality tombstones + new rows, rewrites nothing, and CHAINS") {
    warehouse: Unit
    spark.sql(
      "CREATE TABLE graft.lake.morupd TBLPROPERTIES(" +
        "'write.update.mode'='merge-on-read', 'identifier.columns'='id') " +
        "AS SELECT id, id % 5 AS grp, CAST(id AS DOUBLE) AS v FROM range(500)")
    val dir = mkTableDir("lake", "morupd")
    val before = ManifestTable.manifest(dir, None)
    spark.sql("UPDATE graft.lake.morupd SET v = v * 10 WHERE grp = 2")
    val m1 = ManifestTable.manifest(dir, None)
    // old files untouched; the delta ADDS tombstones and new rows
    assert(before.files.map(_.path).forall(m1.files.map(_.path).contains),
      "merge-on-read UPDATE must not rewrite or drop any existing file")
    assert(m1.deleteFiles.nonEmpty, "the touched rows' ids land as equality tombstones")
    assert(m1.files.size > before.files.size, "the new row versions land as fresh files")
    assert(m1.deleteKeys == Seq("id"))
    def sumV: Double = spark.sql("SELECT sum(v) AS s FROM graft.lake.morupd").head().getDouble(0)
    def expect(f: Long => Double): Double = (0L until 500L).map(f).sum
    assert(sumV == expect(i => if (i % 5 == 2) i * 10.0 else i.toDouble))
    // CHAINING: the second update's read must apply the first's
    // tombstones (MorApplyRewrite on the delta read) — the old pre-
    // update rows must not resurrect or double-update
    spark.sql("UPDATE graft.lake.morupd SET v = v + 1 WHERE grp = 2")
    assert(sumV == expect(i => if (i % 5 == 2) i * 10.0 + 1 else i.toDouble),
      "chained MoR updates must read through the prior delta's tombstones")
    // row count stable: updates replace, never duplicate
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.morupd").head().getLong(0) == 500)
    // time travel: the pre-update snapshot is intact
    assert(spark.sql(s"SELECT sum(v) AS s FROM graft.lake.morupd VERSION AS OF ${before.version}")
      .head().getDouble(0) == expect(_.toDouble))
    // maintenance folds the debt and preserves content
    ManifestTable.materializeDeletes(spark, dir)
    assert(sumV == expect(i => if (i % 5 == 2) i * 10.0 + 1 else i.toDouble))
    assert(ManifestTable.manifest(dir, None).deleteFiles.isEmpty)
  }

  test("write.merge.mode=merge-on-read: SQL MERGE INTO lands matched updates, deletes, and inserts as one O(delta) commit") {
    warehouse: Unit
    spark.sql(
      "CREATE TABLE graft.lake.mormrg TBLPROPERTIES(" +
        "'write.merge.mode'='merge-on-read', 'identifier.columns'='id') " +
        "AS SELECT id, CAST(id AS DOUBLE) AS v FROM range(300)")
    val dir = mkTableDir("lake", "mormrg")
    val before = ManifestTable.manifest(dir, None)
    // source: ids 250..349 (half matched, half new) + a delete band
    spark.sql("SELECT id, CAST(id * 100 AS DOUBLE) AS nv FROM range(250, 350)")
      .createOrReplaceTempView("mrg_src")
    spark.sql("""
      MERGE INTO graft.lake.mormrg t USING mrg_src s ON t.id = s.id
      WHEN MATCHED AND t.id % 2 = 0 THEN UPDATE SET v = s.nv
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)
    """)
    val m1 = ManifestTable.manifest(dir, None)
    assert(before.files.map(_.path).forall(m1.files.map(_.path).contains),
      "merge-on-read MERGE must not rewrite or drop any existing file")
    assert(m1.deleteFiles.nonEmpty)
    val got = spark.sql("SELECT id, v FROM graft.lake.mormrg").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = ((0L until 250L).map(i => i -> i.toDouble) ++
      (250L until 300L).collect { case i if i % 2 == 0 => i -> i * 100.0 } ++
      (300L until 350L).map(i => i -> i * 100.0)).toMap
    assert(got == want, s"size got=${got.size} want=${want.size}")
    // guards: MoR DML needs identifier.columns, and refuses on a WAP branch
    spark.sql("CREATE TABLE graft.lake.mornokey " +
      "TBLPROPERTIES('write.update.mode'='merge-on-read') " +
      "AS SELECT id, CAST(id AS DOUBLE) AS v FROM range(10)")
    val ek = intercept[Exception](
      spark.sql("UPDATE graft.lake.mornokey SET v = 0 WHERE id = 1"))
    assert(ek.getMessage.contains("identifier.columns"), s"got: ${ek.getMessage}")
    ManifestTable.createBranch(dir, "stage")
    spark.conf.set(graft.sources.GraftWrites.WapBranchConf, "stage")
    try {
      val eb = intercept[Exception](spark.sql(
        "MERGE INTO graft.lake.mormrg t USING (SELECT 1 AS id) s ON t.id = s.id " +
          "WHEN MATCHED THEN DELETE"))
      assert(eb.getMessage.contains("merge-on-read DML cannot route onto a WAP branch"),
        s"got: ${eb.getMessage}")
    } finally spark.conf.unset(graft.sources.GraftWrites.WapBranchConf)
  }

  test("delta DELETE: with identifier.columns, an UN-PUSHABLE DELETE on a tombstoned MoR table lands as equality tombstones") {
    warehouse: Unit
    spark.sql(
      "CREATE TABLE graft.lake.mordel3 TBLPROPERTIES(" +
        "'write.delete.mode'='merge-on-read', 'identifier.columns'='id') " +
        "AS SELECT id, id % 10 AS d FROM range(400)")
    val dir = mkTableDir("lake", "mordel3")
    // pushable DELETE still converts to the POSITIONAL metadata path
    spark.sql("DELETE FROM graft.lake.mordel3 WHERE d = 1")
    val m1 = ManifestTable.manifest(dir, None)
    assert(m1.posDeleteFiles.nonEmpty && m1.deleteFiles.isEmpty)
    // un-pushable DELETE, pending tombstones present: previously a loud
    // refusal — with the identifier it rides the delta as EQUALITY
    // tombstones, still zero rewrites
    spark.sql("DELETE FROM graft.lake.mordel3 WHERE id % 3 = 0")
    val m2 = ManifestTable.manifest(dir, None)
    assert(m2.files.map(_.path) == m1.files.map(_.path),
      "delta DELETE must rewrite no data files")
    assert(m2.deleteFiles.nonEmpty && m2.deleteKeys == Seq("id"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.mordel3").head().getLong(0)
      == (0L until 400L).count(i => i % 10 != 1 && i % 3 != 0))
    // and both tombstone kinds fold together on maintenance
    ManifestTable.materializeDeletes(spark, dir)
    val m3 = ManifestTable.manifest(dir, None)
    assert(m3.deleteFiles.isEmpty && m3.posDeleteFiles.isEmpty)
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.mordel3").head().getLong(0)
      == (0L until 400L).count(i => i % 10 != 1 && i % 3 != 0))
  }

  test("atomic CTAS: definition + data land as ONE v1 manifest; abort leaves no table") {
    warehouse: Unit
    spark.sql("CREATE TABLE graft.lake.actas PARTITIONED BY (id) " +
      "TBLPROPERTIES('tier'='bronze') AS SELECT id, id * 2 AS v FROM range(100)")
    val dir = mkTableDir("lake", "actas")
    val m = ManifestTable.manifest(dir, None)
    assert(m.version == 1L, "CTAS must be one atomic commit, not create-then-append")
    assert(m.files.nonEmpty && m.props == Map("tier" -> "bronze") && m.track == Seq("id"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.actas").head().getLong(0) == 100)
    // an aborted staging leaves NO table and no directory residue
    import org.apache.spark.sql.connector.catalog.{Identifier, TableInfo}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.StagingTableCatalog]
    val st = cat.stageCreate(Identifier.of(Array("lake"), "aborted"),
      new TableInfo.Builder().withColumns(
        Array(org.apache.spark.sql.connector.catalog.Column.create(
          "id", org.apache.spark.sql.types.LongType)))
        .withProperties(java.util.Map.of())
        .withPartitions(Array.empty).build())
    st.abortStagedChanges()
    assert(!cat.tableExists(Identifier.of(Array("lake"), "aborted")))
    assert(!new java.io.File(mkTableDir("lake", "aborted")).exists(),
      "an aborted CREATE staging must leave no directory")
  }

  test("racing staged CTAS creates: one wins atomically, the loser throws and publishes nothing") {
    warehouse: Unit
    import org.apache.spark.sql.connector.catalog.{Identifier, TableInfo}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.StagingTableCatalog]
    def info = new TableInfo.Builder().withColumns(
      Array(org.apache.spark.sql.connector.catalog.Column.create(
        "id", org.apache.spark.sql.types.LongType)))
      .withProperties(java.util.Map.of())
      .withPartitions(Array.empty).build()
    val ident = Identifier.of(Array("lake"), "ctasrace")
    // both stage BEFORE either commits — the install race is the test
    val s1 = cat.stageCreate(ident, info)
    val s2 = cat.stageCreate(ident, info)
    s1.commitStagedChanges()
    val e = intercept[Exception](s2.commitStagedChanges())
    assert(e.getMessage.contains("creation race") || e.getMessage.contains("already exists"),
      s"got: ${e.getMessage}")
    val dir = mkTableDir("lake", "ctasrace")
    assert(ManifestTable.latestVersion(dir).contains(1L),
      "exactly one create must have published")
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.ctasrace").head().getLong(0) == 0)
  }

  test("REPLACE TABLE AS SELECT: definition AND content swap in one version, old head time-travels") {
    warehouse: Unit
    spark.sql("CREATE TABLE graft.lake.rtas PARTITIONED BY (id) " +
      "TBLPROPERTIES('tier'='bronze') AS SELECT id, id * 2 AS v FROM range(50)")
    val dir = mkTableDir("lake", "rtas")
    // RTAS redefines schema, partitioning, AND properties
    spark.sql("REPLACE TABLE graft.lake.rtas PARTITIONED BY (k) " +
      "TBLPROPERTIES('tier'='silver') AS " +
      "SELECT id AS k, CAST(id AS DOUBLE) AS amount FROM range(10)")
    val m = ManifestTable.manifest(dir, None)
    assert(m.version == 2L, "RTAS is one commit on top of the v1 CTAS")
    assert(m.track == Seq("k") && m.props == Map("tier" -> "silver"),
      s"REPLACE must adopt the statement's definition, got ${m.track}/${m.props}")
    assert(spark.table("graft.lake.rtas").columns.toSeq == Seq("k", "amount"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.rtas").head().getLong(0) == 10)
    // the replaced world stays readable
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.rtas VERSION AS OF 1")
      .head().getLong(0) == 50)
    // CREATE OR REPLACE on a missing table creates
    spark.sql("CREATE OR REPLACE TABLE graft.lake.corts AS SELECT id FROM range(7)")
    assert(ManifestTable.manifest(mkTableDir("lake", "corts"), None).version == 1L)
    // plain REPLACE on a missing table refuses
    assert(intercept[Exception](spark.sql(
      "REPLACE TABLE graft.lake.nosuch AS SELECT id FROM range(1)")
    ).getMessage.toLowerCase.contains("table"))
  }

  test("write.distribution-mode applies to streaming toTable epochs: files land sorted per epoch") {
    warehouse: Unit
    val minKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prevMin = spark.conf.getOption(minKey)
    spark.conf.set(minKey, "4096")
    try {
      spark.sql("CREATE TABLE graft.lake.strdist (id BIGINT, v BIGINT) " +
        "PARTITIONED BY (id) TBLPROPERTIES('write.distribution-mode'='range', " +
        "'write.target-file-bytes'='16384')")
      val dir = mkTableDir("lake", "strdist")
      val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)](
        spark)
      // one epoch of scattered rows across 8 partitions
      src.addData((0L until 8000L).map(i => ((i * 2654435761L) % 8000L, i)))
      val q = src.toDF().toDF("id", "v").repartition(8)
        .writeStream.option("checkpointLocation", tmpDir("strdist-ckpt").toString)
        .toTable("graft.lake.strdist")
      try q.processAllAvailable() finally q.stop()
      val m = ManifestTable.manifest(dir, None)
      assert(m.files.size > 1, s"epoch must write several files, got ${m.files.size}")
      val envs = m.files.map(f => (f.mins("id").get.toLong, f.maxs("id").get.toLong))
        .sortBy(_._1)
      envs.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax <= bMin,
            s"range mode must cluster the streaming epoch's files too: $envs")
        case _ => ()
      }
    } finally prevMin match {
      case Some(v) => spark.conf.set(minKey, v)
      case None => spark.conf.unset(minKey)
    }
  }

  test("MoR UPDATE composes with a rename era: the delta read spans pre-rename files") {
    warehouse: Unit
    spark.sql("CREATE TABLE graft.lake.morera TBLPROPERTIES(" +
      "'write.update.mode'='merge-on-read', 'identifier.columns'='id') " +
      "AS SELECT id, CAST(id AS DOUBLE) AS amount FROM range(100)")
    val dir = mkTableDir("lake", "morera")
    // metadata-only rename: old files keep bytes under 'amount'
    spark.sql("ALTER TABLE graft.lake.morera RENAME COLUMN amount TO total")
    spark.sql("INSERT INTO graft.lake.morera VALUES (100, 100.0)")
    assert(ManifestTable.manifest(dir, None).renamesApply,
      "precondition: live pre-rename files")
    // the delta's READ must group eras (MorApplyRewrite swap), its
    // WRITE lands new-era rows; updated pre-rename rows re-insert
    // under the committed schema
    spark.sql("UPDATE graft.lake.morera SET total = total * 10 WHERE id % 10 = 0")
    val m = ManifestTable.manifest(dir, None)
    assert(m.deleteFiles.nonEmpty, "the update landed as a delta")
    assert(spark.sql("SELECT sum(total) AS s FROM graft.lake.morera").head().getDouble(0)
      == (0 to 100).map(i => if (i % 10 == 0) i * 10.0 else i.toDouble).sum)
    assert(spark.sql("SELECT count(*) AS n FROM graft.lake.morera").head().getLong(0) == 101)
  }

  test("SHOW CREATE TABLE round-trips: schema (identifier NOT NULL), PARTITIONED BY track spec, TBLPROPERTIES") {
    warehouse: Unit
    spark.sql("CREATE TABLE graft.lake.sct (id BIGINT, ts TIMESTAMP, v DOUBLE) " +
      "PARTITIONED BY (days(ts), bucket(8, id)) " +
      "TBLPROPERTIES('write.distribution-mode'='range', 'identifier.columns'='id')")
    val ddl = spark.sql("SHOW CREATE TABLE graft.lake.sct").head().getString(0)
    assert(ddl.contains("id BIGINT NOT NULL"), s"identifier reads as required:\n$ddl")
    assert(ddl.contains("days(ts)") && ddl.contains("bucket(8, id)"),
      s"the track spec must render as PARTITIONED BY:\n$ddl")
    assert(ddl.contains("'write.distribution-mode' = 'range'"), ddl)
    // the rendered DDL re-creates an equivalent table in another namespace
    val ddl2 = ddl.replace("graft.lake.sct", "graft.lake.sct2")
      .replace("USING graft-manifest", "")
      .replaceAll("(?s)LOCATION '[^']*'\n?", "")
      .replaceAll("'version' = '[^']*',?\\s*", "")
      .replaceAll("'location' = '[^']*',?\\s*", "")
      .replaceAll("'provider' = '[^']*',?\\s*", "")
    spark.sql(ddl2)
    assert(ManifestTable.manifest(mkTableDir("lake", "sct2"), None).track
      == ManifestTable.manifest(mkTableDir("lake", "sct"), None).track,
      "round-tripped DDL must re-create the same track spec")
  }

  test("write.schema.accept-additive arms MERGE WITH SCHEMA EVOLUTION; off by default; INSERT arity still refuses") {
    warehouse: Unit
    // an unexpected INSERT column is a pipeline bug in every mode
    // (Delta draws the same line: evolution is a MERGE/writer feature)
    spark.sql("CREATE TABLE graft.lake.sev " +
      "TBLPROPERTIES('write.schema.accept-additive'='true') " +
      "AS SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(10)")
    val e0 = intercept[Exception](spark.sql(
      "INSERT INTO graft.lake.sev SELECT id AS k, CAST(0.5 AS DOUBLE) AS v, 'x' AS tag FROM range(10, 12)"))
    assert(e0.getMessage.contains("DATA_COLUMNS") || e0.getMessage.contains("columns"), e0.getMessage)
    // the evolution clause computes the source's new columns and
    // drives this catalog's alterTable AddColumn path before planning
    spark.sql("SELECT CAST(5 AS BIGINT) AS k, CAST(55.0 AS DOUBLE) AS v, 9000 AS score")
      .createOrReplaceTempView("sev_src")
    spark.sql("MERGE WITH SCHEMA EVOLUTION INTO graft.lake.sev t USING sev_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val t2 = spark.table("graft.lake.sev")
    assert(t2.schema.fieldNames.toSeq == Seq("k", "v", "score"),
      "MERGE evolution must add the source column")
    assert(spark.sql("SELECT score FROM graft.lake.sev WHERE k = 5").head.getInt(0) == 9000)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sev WHERE score IS NULL").head.getLong(0)
      == t2.count() - 1, "pre-evolution rows read the new column as NULL")
    // the evolved MERGE composes with the MoR delta regime too: the
    // ALTER lands first, the delta stages against the evolved head
    spark.sql("CREATE TABLE graft.lake.sevm " +
      "TBLPROPERTIES('write.schema.accept-additive'='true', " +
      "'identifier.columns'='k', 'write.merge.mode'='merge-on-read') " +
      "AS SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(10)")
    spark.sql("MERGE WITH SCHEMA EVOLUTION INTO graft.lake.sevm t USING sev_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val dm = ManifestTable.manifest(mkTableDir("lake", "sevm"), None)
    assert(dm.deleteFiles.nonEmpty, "the evolved merge must still land as a MoR delta")
    assert(spark.sql("SELECT score FROM graft.lake.sevm WHERE k = 5").head.getInt(0) == 9000)
    assert(spark.sql("SELECT count(*) FROM graft.lake.sevm").head.getLong(0) == 10)
    // without the property the same clause leaves the schema alone
    // (the AUTOMATIC_SCHEMA_EVOLUTION capability is the gate)
    spark.sql("CREATE TABLE graft.lake.sev2 AS SELECT id AS k, CAST(id AS DOUBLE) AS v FROM range(5)")
    spark.sql("MERGE WITH SCHEMA EVOLUTION INTO graft.lake.sev2 t USING sev_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.table("graft.lake.sev2").schema.fieldNames.toSeq == Seq("k", "v"),
      "no property, no evolution")
    // bad property values refuse eagerly
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft.lake.sev2 SET TBLPROPERTIES('write.schema.accept-additive'='yes')")
    ).getMessage.contains("accept-additive"))
  }

  test("column comments persist end-to-end; DROP NOT NULL relaxes; SET NOT NULL refuses") {
    warehouse: Unit
    spark.sql("CREATE TABLE graft.lake.ccmt (id BIGINT COMMENT 'the key', v DOUBLE)")
    def commentOf(c: String): String =
      spark.sql("DESCRIBE graft.lake.ccmt").collect()
        .find(_.getString(0) == c).map(_.getString(2)).orNull
    assert(commentOf("id") == "the key")
    // an INSERT must not drop the metadata (appends rebuild the schema
    // from the incoming frame's bare fields)
    spark.sql("INSERT INTO graft.lake.ccmt SELECT id, CAST(id AS DOUBLE) FROM range(5)")
    assert(commentOf("id") == "the key", "appends must carry column comments")
    // ALTER COLUMN ... COMMENT is a metadata-only commit
    val before = ManifestTable.manifest(mkTableDir("lake", "ccmt"), None)
    spark.sql("ALTER TABLE graft.lake.ccmt ALTER COLUMN v COMMENT 'the value'")
    assert(commentOf("v") == "the value")
    assert(ManifestTable.manifest(mkTableDir("lake", "ccmt"), None).files == before.files)
    // ADD COLUMN carries its comment too
    spark.sql("ALTER TABLE graft.lake.ccmt ADD COLUMN tag STRING COMMENT 'a tag'")
    assert(commentOf("tag") == "a tag")
    // nullability: relaxing is metadata, tightening is a data claim
    spark.sql("ALTER TABLE graft.lake.ccmt ALTER COLUMN v DROP NOT NULL")
    // Spark's own analysis refuses the tighten before our handler can
    // (and our handler refuses it as a data claim if reached directly)
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.lake.ccmt ALTER COLUMN v SET NOT NULL"))
    assert(e.getMessage.contains("data claim") ||
      e.getMessage.contains("non-nullable"), e.getMessage)
    // time travel sees the pre-comment schema
    assert(spark.sql(s"SELECT * FROM graft.lake.ccmt VERSION AS OF ${before.version}")
      .schema("v").metadata.contains("comment") == false)
  }

  test("an append whose frame carries its own field metadata must not clobber the column comment") {
    warehouse: Unit
    import org.apache.spark.sql.types.{DoubleType, LongType, MetadataBuilder, StructField, StructType}
    spark.sql("CREATE TABLE graft.lake.cmtm (id BIGINT COMMENT 'the key', v DOUBLE)")
    spark.sql("INSERT INTO graft.lake.cmtm VALUES (1, 1.0)")
    val dir = mkTableDir("lake", "cmtm")
    // DataFrames commonly carry field metadata (ML attributes, source
    // annotations) — including a DIFFERENT "comment" key; the table's
    // ALTER-owned comment must survive an ordinary append, and the
    // frame's foreign keys ride along instead of whole-object loss
    val meta = new MetadataBuilder()
      .putString("ml_attr", "numeric").putString("comment", "frame-side junk").build()
    val base = spark.range(2).selectExpr("id + 10 AS id", "CAST(id AS DOUBLE) AS v")
    val df = spark.createDataFrame(base.rdd, StructType(Seq(
      StructField("id", LongType, nullable = true, metadata = meta),
      StructField("v", DoubleType))))
    ManifestTable.commit(df, dir, track = Nil)
    val after = spark.table("graft.lake.cmtm").schema("id").metadata
    assert(after.getString("comment") == "the key",
      s"the persisted column comment must win over incoming frame metadata: $after")
    assert(after.getString("ml_attr") == "numeric",
      s"non-conflicting incoming metadata keys should carry: $after")
    assert(spark.table("graft.lake.cmtm").count() == 3)
  }

  test("CREATE TABLE ... COMMENT persists in the manifest and surfaces via properties") {
    warehouse: Unit
    spark.sql(
      "CREATE TABLE graft.lake.cmt (id BIGINT) COMMENT 'customer gold rollup'")
    assert(ManifestTable.manifest(mkTableDir("lake", "cmt"), None)
      .props.get("comment").contains("customer gold rollup"),
      "the COMMENT clause must persist, not silently drop")
    // SHOW TBLPROPERTIES deliberately hides Spark's reserved keys
    // (comment/provider/location) — the user-visible surface for the
    // comment is DESCRIBE EXTENDED's dedicated Comment row
    val desc = spark.sql("DESCRIBE TABLE EXTENDED graft.lake.cmt")
      .collect().map(_.toString).mkString("\n")
    assert(desc.contains("customer gold rollup"), desc)
    // CTAS carries it through the staged path too
    spark.sql("CREATE TABLE graft.lake.cmt2 COMMENT 'staged comment' " +
      "AS SELECT id FROM range(5)")
    assert(ManifestTable.manifest(mkTableDir("lake", "cmt2"), None)
      .props.get("comment").contains("staged comment"))
  }

  test("ALTER COLUMN TYPE: safe widening is metadata-only through SQL; unsafe refuses") {
    warehouse: Unit
    spark.sql("CREATE TABLE graft.lake.wd (id INT, f FLOAT, v STRING) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft.lake.wd " +
      "SELECT CAST(id AS INT) AS i, CAST(id/10.0 AS FLOAT) AS ff, " +
      "CAST(id AS STRING) AS vv FROM range(100) DISTRIBUTE BY CAST(id DIV 25 AS INT)")
    val dir = mkTableDir("lake", "wd")
    val before = ManifestTable.manifest(dir, None)
    spark.sql("ALTER TABLE graft.lake.wd ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE graft.lake.wd ALTER COLUMN f TYPE DOUBLE")
    val m = ManifestTable.manifest(dir, None)
    assert(m.files.map(_.path) == before.files.map(_.path),
      "SQL widening must be metadata-only (same data files)")
    assert(spark.table("graft.lake.wd").schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    // values beyond the narrow ranges land fine now
    spark.sql("INSERT INTO graft.lake.wd VALUES (CAST(8000000000 AS BIGINT), 1e200, 'wide')")
    assert(spark.sql("SELECT max(id) FROM graft.lake.wd").head.getLong(0) == 8000000000L)
    assert(spark.sql("SELECT sum(id) FROM graft.lake.wd").head.getLong(0)
      == (0 until 100).sum + 8000000000L)
    // envelope pruning still engages across the widen era split
    val probe = spark.sql("SELECT v FROM graft.lake.wd WHERE id BETWEEN 10 AND 20")
    assert(scannedFiles(probe).size < m.files.size + 1,
      "narrow-era files must still prune on their (exactly parseable) int stats")
    assert(probe.count() == 11)
    // unsafe retypes refuse with the full story
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.lake.wd ALTER COLUMN v TYPE INT"))
    assert(e.getMessage.contains("not a safe") || e.getMessage.contains("INT"),
      e.getMessage)
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.lake.wd ALTER COLUMN id TYPE INT"))
    assert(e2.getMessage.contains("not a safe") || e2.getMessage.contains("INT"),
      e2.getMessage)
    // time travel reads the narrow world under its committed schema
    assert(spark.sql(s"SELECT * FROM graft.lake.wd VERSION AS OF ${before.version}")
      .schema("id").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("identifier.columns follows ALTER TABLE RENAME COLUMN; DROP of an identifier column refuses") {
    warehouse: Unit
    spark.sql("CREATE TABLE graft.lake.idren TBLPROPERTIES(" +
      "'identifier.columns'='id', 'write.update.mode'='merge-on-read') " +
      "AS SELECT id, CAST(id AS DOUBLE) AS v FROM range(50)")
    val dir = mkTableDir("lake", "idren")
    spark.sql("ALTER TABLE graft.lake.idren RENAME COLUMN id TO ident")
    assert(ManifestTable.manifest(dir, None).props("identifier.columns") == "ident",
      "the row-identity spec must re-render over the new name")
    // the MoR delta still works against the renamed identifier
    spark.sql("UPDATE graft.lake.idren SET v = v + 1 WHERE ident < 10")
    assert(spark.sql("SELECT sum(v) AS s FROM graft.lake.idren").head().getDouble(0)
      == (0 until 50).map(i => if (i < 10) i + 1.0 else i.toDouble).sum)
    // with tombstones pending the delete-key guard refuses first; once
    // materialized, the IDENTIFIER guard still refuses the drop with
    // the actionable path
    ManifestTable.materializeDeletes(spark, dir)
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.lake.idren DROP COLUMN ident"))
    assert(e.getMessage.contains("UNSET TBLPROPERTIES"), s"got: ${e.getMessage}")
    // after unsetting, the drop is legal again (v must survive alone)
    spark.sql("ALTER TABLE graft.lake.idren UNSET TBLPROPERTIES('identifier.columns')")
    spark.sql("ALTER TABLE graft.lake.idren DROP COLUMN ident")
    assert(spark.table("graft.lake.idren").columns.toSeq == Seq("v"))
  }

  test("write.distribution-mode=range: SQL INSERT lands range-clustered files with disjoint prunable envelopes") {
    warehouse: Unit
    // AQE's 1MB minimum partition size would swallow this unit-scale
    // insert into one file regardless of the table's advisory — lower
    // the session floor so the write.target-file-bytes advisory is the
    // binding constraint, exactly as it is at real file sizes
    val minKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prevMin = spark.conf.getOption(minKey)
    spark.conf.set(minKey, "4096")
    try {
    // scattered input: 8 partitions, each spanning the whole id domain
    spark.range(0, 8000).selectExpr("(id * 2654435761) % 8000 AS id", "id AS payload")
      .createOrReplaceTempView("scatter_src")
    // write.target-file-bytes keeps AQE from coalescing this tiny
    // insert into one file — the same knob a real ingest tunes
    spark.sql("CREATE TABLE graft.lake.distrange (id BIGINT, payload BIGINT) " +
      "PARTITIONED BY (id) TBLPROPERTIES('write.distribution-mode'='range', " +
      "'write.target-file-bytes'='16384')")
    spark.sql("INSERT INTO graft.lake.distrange SELECT /*+ REPARTITION(8) */ * FROM scatter_src")
    val dir = mkTableDir("lake", "distrange")
    val m = ManifestTable.manifest(dir, None)
    assert(m.files.size > 1, s"multi-partition insert must write several files")
    // disjoint envelopes: sorted by min, each file's max < next file's min
    val envs = m.files.map(f => (f.mins("id").get.toLong, f.maxs("id").get.toLong))
      .sortBy(_._1)
    envs.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"range-mode files must carry disjoint envelopes: $envs")
      case _ => ()
    }
    // ...so a narrow range query prunes to a strict file subset
    val probe = spark.sql("SELECT payload FROM graft.lake.distrange WHERE id < 500")
    assert(scannedFiles(probe).size < m.files.size,
      "the clustered layout must prune the narrow range query")
    assert(probe.count() == 500)
    // the same insert WITHOUT the property scatters: every file spans the domain
    spark.sql("CREATE TABLE graft.lake.distnone (id BIGINT, payload BIGINT) PARTITIONED BY (id)")
    spark.sql("INSERT INTO graft.lake.distnone SELECT /*+ REPARTITION(8) */ * FROM scatter_src")
    val mn = ManifestTable.manifest(mkTableDir("lake", "distnone"), None)
    val spans = mn.files.map(f => (f.mins("id").get.toLong, f.maxs("id").get.toLong))
    assert(spans.forall { case (lo, hi) => lo < 1000 && hi > 7000 },
      s"default mode leaves the caller's scatter in place: $spans")
    // hash mode: equal ids co-locate — every id lives in exactly one file
    spark.sql("CREATE TABLE graft.lake.disthash (id BIGINT, payload BIGINT) " +
      "PARTITIONED BY (id) TBLPROPERTIES('write.distribution-mode'='hash', " +
      "'write.target-file-bytes'='16384')")
    // duplicate each id across all 8 source partitions to make co-location observable
    spark.sql("INSERT INTO graft.lake.disthash " +
      "SELECT /*+ REPARTITION(8) */ id % 100 AS id, id AS payload FROM range(8000)")
    val dh = mkTableDir("lake", "disthash")
    val perId = ManifestTable.snapshot(spark, dh)
      .select($"id", org.apache.spark.sql.functions.input_file_name().as("f"))
      .distinct().groupBy("id").count().agg(max("count")).head().getLong(0)
    assert(perId == 1L, "hash mode must co-locate every id into one file")
    // vocabulary guard
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE graft.lake.distnone SET TBLPROPERTIES('write.distribution-mode'='diagonal')")
    ).getMessage.contains("write.distribution-mode"))
    } finally {
      prevMin match {
        case Some(v) => spark.conf.set(minKey, v)
        case None => spark.conf.unset(minKey)
      }
    }
  }

  test("write.distribution-mode=zorder: plain INSERTs land corner-prunable files, no maintenance pass") {
    warehouse: Unit
    val minKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prevMin = spark.conf.getOption(minKey)
    spark.conf.set(minKey, "4096")
    try {
      // a 64x64 grid arriving hash-scattered: without clustering every
      // file spans the whole (x, y) plane and a corner query reads all
      spark.sql("CREATE TABLE graft.lake.distz (x BIGINT, y BIGINT, payload BIGINT) " +
        "PARTITIONED BY (x, y) TBLPROPERTIES('write.distribution-mode'='zorder', " +
        "'write.target-file-bytes'='16384')")
      spark.sql("INSERT INTO graft.lake.distz " +
        "SELECT ((id * 2654435761) % 4096) DIV 64 AS x, " +
        "((id * 2654435761) % 4096) % 64 AS y, id AS payload " +
        "FROM range(65536) DISTRIBUTE BY id % 8")
      val m = ManifestTable.manifest(mkTableDir("lake", "distz"), None)
      assert(m.files.size >= 2, s"multi-partition insert must write several files, got ${m.files.size}")
      // z-clustered files TILE the plane: every file's bounding box is
      // a strict sub-rectangle on at least one axis
      val boxes = m.files.map { f =>
        (f.mins("x").get.toLong, f.maxs("x").get.toLong,
          f.mins("y").get.toLong, f.maxs("y").get.toLong)
      }
      assert(boxes.forall { case (x0, x1, y0, y1) =>
        (x1 - x0) < 63 || (y1 - y0) < 63 },
        s"z-order must shrink bounding boxes on at least one axis: $boxes")
      // the corner query prunes files at ingest — no CALL zorder ran
      val corner = spark.sql(
        "SELECT count(*) AS n FROM graft.lake.distz WHERE x < 8 AND y < 8")
      assert(scannedFiles(corner).size < m.files.size,
        "the corner query must skip files whose boxes miss the corner")
      assert(corner.head.getLong(0) ==
        (0 until 65536).map(i => (i.toLong * 2654435761L) % 4096)
          .count(v => v / 64 < 8 && v % 64 < 8))
      // declared-but-impossible layouts refuse loudly at write time
      // (booleans have no useful monotone surrogate; strings/timestamps
      // DO z-order now — covered by the mixed-type test below)
      spark.sql("CREATE TABLE graft.lake.distzbad (x BIGINT, b BOOLEAN) " +
        "PARTITIONED BY (x, b) TBLPROPERTIES('write.distribution-mode'='zorder')")
      val e = intercept[Exception](
        spark.sql("INSERT INTO graft.lake.distzbad VALUES (1, true)"))
      assert(e.getMessage.contains("zorder"), e.getMessage)
    } finally {
      prevMin match {
        case Some(v) => spark.conf.set(minKey, v)
        case None => spark.conf.unset(minKey)
      }
    }
  }

  test("write.distribution-mode=zorder on a (timestamp, string) table: ingest clusters through the type surrogates, the corner query prunes") {
    warehouse: Unit
    val minKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prevMin = spark.conf.getOption(minKey)
    spark.conf.set(minKey, "4096")
    try {
      // a year of events across 16 regions, arriving hash-scattered:
      // without clustering every file spans the whole (ts, region)
      // plane. No integral pre-transform anywhere — the declared
      // sources ARE the timestamp and the string.
      spark.sql("CREATE TABLE graft.lake.distzts (ts TIMESTAMP, region STRING, v BIGINT) " +
        "PARTITIONED BY (ts, region) TBLPROPERTIES(" +
        "'write.distribution-mode'='zorder', 'write.target-file-bytes'='16384')")
      spark.sql("INSERT INTO graft.lake.distzts " +
        "SELECT timestamp_micros(CAST(1704067200000000 + ((id * 2654435761) % 31536000) * 1000000 AS BIGINT)) AS ts, " +
        "concat('region-', lpad(CAST((id * 40503) % 16 AS STRING), 2, '0')) AS region, " +
        "id AS v FROM range(40000) DISTRIBUTE BY id % 8")
      val m = ManifestTable.manifest(mkTableDir("lake", "distzts"), None)
      assert(m.files.size >= 2, s"need several files, got ${m.files.size}")
      // corner: january x one region — both envelope dimensions must
      // prune (the tiling property through the minute/prefix surrogates)
      val corner = spark.sql(
        "SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS sv FROM graft.lake.distzts " +
          "WHERE ts < TIMESTAMP'2024-02-01 00:00:00Z' AND region = 'region-03'")
      assert(scannedFiles(corner).size < m.files.size,
        s"the (ts, region) corner must skip files (${scannedFiles(corner).size} of ${m.files.size})")
      val want = (0L until 40000L)
        .map(i => (1704067200L + (i * 2654435761L) % 31536000L, (i * 40503) % 16, i))
        .filter { case (s, r, _) => s < 1706745600L && r == 3 }
      assert(corner.head.getLong(0) == want.size.toLong)
      assert(corner.head.getLong(1) == want.map(_._3).sum)
    } finally {
      prevMin match {
        case Some(v) => spark.conf.set(minKey, v)
        case None => spark.conf.unset(minKey)
      }
    }
  }

  test("zorder clamps each dimension: negatives sit at the origin slice, overflow saturates instead of wrapping") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val f = graft.sources.ZOrderFunction.bind(StructType(Seq(
      StructField("a", LongType), StructField("b", LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[java.lang.Long]]
    def z(a: Long, b: Long): Long =
      f.produceResult(org.apache.spark.sql.catalyst.InternalRow(a, b))
    // raw low-bit two's-complement interleave would put -1 (all ones)
    // ABOVE every positive; the clamp keeps negatives at the origin
    assert(z(-1L, 0L) == z(0L, 0L))
    assert(z(-1000L, 7L) <= z(5L, 7L), "negatives must sort below positives")
    // values differing only above bit 31 saturate into the top slice
    // instead of wrapping onto small values
    val mask = (1L << 31) - 1
    assert(z(Long.MaxValue, 0L) == z(mask, 0L), "overflow saturates at the top slice")
    assert(z(Long.MaxValue, 0L) > z(1000L, 0L), "…never wraps below in-range values")
    // monotone per dimension with the other fixed (the tiling property)
    assert(z(3L, 9L) < z(300L, 9L) && z(4L, 2L) < z(4L, 60L))
    // and the SQL maintenance form computes the identical value at the
    // same bit budget — ingest-time and CALL-zorder clustering agree
    val sqlZ = spark.sql("SELECT CAST(" +
      graft.operators.Layout.zValueSqlN(Seq("5", "9"), 31) + " AS BIGINT)").head.getLong(0)
    assert(sqlZ == z(5L, 9L), s"SQL form $sqlZ != function form ${z(5L, 9L)}")
    val sqlNeg = spark.sql("SELECT CAST(" +
      graft.operators.Layout.zValueSqlN(Seq("-8", "9"), 31) + " AS BIGINT)").head.getLong(0)
    assert(sqlNeg == z(-8L, 9L), "the clamp must match in both forms")
    // NULL dimensions: GREATEST/LEAST SKIP nulls, so without the
    // COALESCE a NULL would land at the TOP slice in the SQL form
    // while produceResult clusters it at the origin — the maintenance
    // pass and ingest-time clustering must agree on nullable keys
    val sqlNull = spark.sql("SELECT CAST(" +
      graft.operators.Layout.zValueSqlN(Seq("CAST(NULL AS BIGINT)", "9"), 31) +
      " AS BIGINT)").head.getLong(0)
    assert(sqlNull == f.produceResult(
      org.apache.spark.sql.catalyst.InternalRow(null, 9L)),
      "NULL dimension must cluster at the origin in BOTH forms")
  }

  test("write.distribution-mode=range applies to the CTAS initial load too") {
    warehouse: Unit
    // the staged CTAS write must honor the declared layout — the
    // initial load is often the largest write the table ever sees,
    // and exempting it would leave the bulk of the data unprunable
    val minKey = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prevMin = spark.conf.getOption(minKey)
    spark.conf.set(minKey, "4096")
    try {
      spark.range(0, 8000).selectExpr("(id * 2654435761) % 8000 AS id", "id AS payload")
        .createOrReplaceTempView("ctas_scatter_src")
      spark.sql("CREATE TABLE graft.lake.distctas PARTITIONED BY (id) " +
        "TBLPROPERTIES('write.distribution-mode'='range', " +
        "'write.target-file-bytes'='16384') AS " +
        "SELECT /*+ REPARTITION(8) */ * FROM ctas_scatter_src")
      val m = ManifestTable.manifest(mkTableDir("lake", "distctas"), None)
      assert(m.files.size > 1, "multi-partition CTAS must write several files")
      val envs = m.files.map(f => (f.mins("id").get.toLong, f.maxs("id").get.toLong))
        .sortBy(_._1)
      envs.sliding(2).foreach {
        case Seq((_, aMax), (bMin, _)) =>
          assert(aMax <= bMin, s"range-mode CTAS files must carry disjoint envelopes: $envs")
        case _ => ()
      }
      val probe = spark.sql("SELECT payload FROM graft.lake.distctas WHERE id < 500")
      assert(scannedFiles(probe).size < m.files.size,
        "the CTAS-clustered layout must prune the narrow range query")
      assert(probe.count() == 500)
    } finally {
      prevMin match {
        case Some(v) => spark.conf.set(minKey, v)
        case None => spark.conf.unset(minKey)
      }
    }
  }
}
