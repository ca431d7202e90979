package graft

import graft.sources.{ChangeFeedView, ManifestTable}
import graft.streaming.ManifestStream
import org.apache.spark.sql.functions._

/** The transactional table format: atomic snapshot visibility,
  * optimistic concurrent appends, file-skipping stats, time travel,
  * expiry GC + vacuum, and the streaming append sink's exactly-once
  * replay window.
  */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = tmpDir("manifest").toString

  test("commit + snapshot round-trips the data, schema pinned") {
    val dir = freshDir()
    val df = (1 to 100).map(i => (i.toLong, s"r$i", i * 1.5)).toDF("id", "s", "v")
    val v = ManifestTable.commit(df, dir, track = Seq("id"))
    assert(v == 1L)
    val back = ManifestTable.snapshot(spark, dir)
    // parquet reads relax nullability; names and types must pin exactly
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("append commits accumulate; asOf time travel reads each version") {
    val dir = freshDir()
    ManifestTable.commit((1 to 50).toDF("id").select($"id".cast("long")), dir, Seq("id"))
    ManifestTable.commit((51 to 80).toDF("id").select($"id".cast("long")), dir, Seq("id"))
    assert(ManifestTable.snapshot(spark, dir).count() == 80)
    assert(ManifestTable.snapshot(spark, dir, asOf = Some(1L)).count() == 50)
    // replace truncates atomically; history still reaches the appends
    ManifestTable.replace((100 to 102).toDF("id").select($"id".cast("long")), dir, Seq("id"))
    assert(ManifestTable.snapshot(spark, dir).count() == 3)
    assert(ManifestTable.snapshot(spark, dir, asOf = Some(2L)).count() == 80)
  }

  test("staged-but-uncommitted data is invisible (atomic visibility)") {
    val dir = freshDir()
    ManifestTable.commit(Seq(1L).toDF("id"), dir, Seq("id"))
    // simulate a crashed commit: data staged, no manifest installed
    Seq(2L, 3L).toDF("id").write.parquet(s"$dir/data/c-crashed")
    assert(ManifestTable.snapshot(spark, dir).count() == 1)
    assert(ManifestTable.latestVersion(dir).contains(1L))
    // vacuum respects the grace age: a "fresh" orphan survives...
    ManifestTable.vacuum(dir)
    assert(new java.io.File(s"$dir/data/c-crashed").exists())
    // ...and is reclaimed once past it
    ManifestTable.vacuum(dir, minAgeMs = -1L)
    assert(!new java.io.File(s"$dir/data/c-crashed").exists())
    assert(ManifestTable.snapshot(spark, dir).count() == 1)
  }

  test("writable branches: shadow commits, isolation, fast-forward publish, ancestor-only refusal") {
    val dir = freshDir()
    ManifestTable.commit((1L to 50L).toDF("id"), dir, Seq("id"))  // v1
    ManifestTable.commit((51L to 80L).toDF("id"), dir, Seq("id")) // v2
    // fork + two staged commits, invisible to main
    assert(ManifestTable.createBranch(dir, "audit") == 2L)
    ManifestTable.commitToBranch((81L to 90L).toDF("id"), dir, "audit", Seq("id"))
    ManifestTable.commitToBranch((91L to 100L).toDF("id"), dir, "audit", Seq("id"))
    assert(ManifestTable.latestVersion(dir).contains(2L), "main must not see branch commits")
    assert(ManifestTable.snapshot(spark, dir).count() == 80)
    assert(ManifestTable.branchSnapshot(spark, dir, "audit").count() == 100)
    assert(ManifestTable.branches(dir) == Map("audit" -> 4L))
    // branch files are retention roots: expiry + vacuum keep them
    ManifestTable.expireSnapshots(dir, keepLast = 1)
    ManifestTable.vacuum(dir, minAgeMs = -1L)
    assert(ManifestTable.branchSnapshot(spark, dir, "audit").count() == 100,
      "expiry/vacuum must never collect an unpublished branch's data")
    // audited → publish: metadata-only fast-forward, branch folds away
    val head = ManifestTable.fastForward(dir, "audit")
    assert(head == 4L && ManifestTable.latestVersion(dir).contains(4L))
    assert(ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq == (1L to 100L))
    assert(ManifestTable.branches(dir).isEmpty)
    // time travel still reaches the published intermediate commit
    assert(ManifestTable.snapshot(spark, dir, asOf = Some(3L)).count() == 90)
    // divergence: main advances past a new branch's base -> ancestor-only refusal
    ManifestTable.createBranch(dir, "stale")
    ManifestTable.commitToBranch(Seq(500L).toDF("id"), dir, "stale", Seq("id"))
    val staleFiles = ManifestTable.branchManifest(dir, "stale").files.map(_.path).toSet
    ManifestTable.commit(Seq(200L).toDF("id"), dir, Seq("id")) // main v5
    val e = intercept[IllegalStateException](ManifestTable.fastForward(dir, "stale"))
    assert(e.getMessage.contains("ancestor-only"), e.getMessage)
    assert(ManifestTable.snapshot(spark, dir).count() == 101, "main untouched by failed publish")
    // abandoning the stale branch reclaims the data only it referenced
    val mainFiles = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    assert(ManifestTable.dropBranch(dir, "stale"))
    (staleFiles -- mainFiles).foreach(p =>
      assert(!new java.io.File(p).exists(), s"unpublished branch data must fold away: $p"))
    assert(ManifestTable.snapshot(spark, dir).count() == 101)
    // guards: tag/branch name space shared; absent branch refuses
    ManifestTable.tag(dir, "rel", 4L)
    val e2 = intercept[IllegalArgumentException](ManifestTable.createBranch(dir, "rel"))
    assert(e2.getMessage.contains("already a tag"))
    intercept[IllegalArgumentException](ManifestTable.branchManifest(dir, "nope"))
  }

  test("fast-forward refuses a stale branch even when expiry opened a history hole") {
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("id"), dir, Seq("id"))  // v1
    ManifestTable.commit((11L to 20L).toDF("id"), dir, Seq("id")) // v2
    ManifestTable.createBranch(dir, "stale")                      // base = 2
    ManifestTable.commitToBranch((21L to 25L).toDF("id"), dir, "stale", Seq("id")) // b-stale-3
    ManifestTable.commit(Seq(100L).toDF("id"), dir, Seq("id"))    // main v3 — diverged
    ManifestTable.commit(Seq(200L).toDF("id"), dir, Seq("id"))    // main v4
    // expiry keeps the head + the branch base (v2) but deletes main v3:
    // the branch's next head number now points INTO the expired hole,
    // so a link there cannot collide — collision-based safety is blind
    ManifestTable.expireSnapshots(dir, keepLast = 1)
    assert(!ManifestTable.versions(dir).contains(3L),
      "precondition: expiry must open the v3 hole for this test to bite")
    // the positional head-vs-base check refuses; pre-fix this publish
    // silently 'succeeded' (linked into the hole, dropped the branch,
    // left head at v4 with a resurrected v3 of conflicting parentage)
    val e = intercept[IllegalStateException](ManifestTable.fastForward(dir, "stale"))
    assert(e.getMessage.contains("ancestor-only"), e.getMessage)
    assert(!ManifestTable.versions(dir).contains(3L),
      "no manifest may appear inside the expired hole")
    assert(ManifestTable.branches(dir).contains("stale"),
      "a refused publish must not drop the branch")
    assert(ManifestTable.latestVersion(dir).contains(4L))
    assert(ManifestTable.snapshot(spark, dir).count() == 22)
    // the staged commit remains publishable the sanctioned way
    assert(ManifestTable.cherryPick(dir, "stale", 3L) == 5L)
    assert(ManifestTable.snapshot(spark, dir).count() == 27)
  }

  test("tag cannot shadow a live branch name (shared name space, both directions)") {
    val dir = freshDir()
    ManifestTable.commit(Seq(1L).toDF("id"), dir, Seq("id"))
    ManifestTable.createBranch(dir, "wip")
    // createBranch already refuses tag names; the reverse must hold too
    // — VERSION AS OF resolves tags first, so a tag over a live branch
    // name would silently shadow the branch
    val e = intercept[IllegalArgumentException](ManifestTable.tag(dir, "wip", 1L))
    assert(e.getMessage.contains("already a branch"), e.getMessage)
    // dropping the branch releases the name for tagging
    ManifestTable.dropBranch(dir, "wip")
    ManifestTable.tag(dir, "wip", 1L)
    assert(ManifestTable.resolveTag(dir, "wip").contains(1L))
  }

  test("cherry-pick replays one branch append onto a DIVERGED main, metadata-only") {
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("id"), dir, Seq("id")) // v1
    ManifestTable.createBranch(dir, "fix")
    ManifestTable.commitToBranch((11L to 15L).toDF("id"), dir, "fix", Seq("id")) // fix@v2
    ManifestTable.commitToBranch((16L to 20L).toDF("id"), dir, "fix", Seq("id")) // fix@v3
    ManifestTable.commit(Seq(100L).toDF("id"), dir, Seq("id")) // main v2 — diverged
    intercept[IllegalStateException](ManifestTable.fastForward(dir, "fix"))
    // pick ONLY the first branch commit onto the diverged main
    val pickedFiles = ManifestTable.branchManifest(dir, "fix").files.map(_.path).toSet
    val v = ManifestTable.cherryPick(dir, "fix", 2L)
    assert(v == 3L)
    assert(ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq ==
      ((1L to 15L) :+ 100L))
    // metadata-only: the picked entries are the branch's own files
    val mainFiles = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    assert(mainFiles.subsetOf(pickedFiles ++ mainFiles), "no data copy")
    assert(ManifestTable.manifest(dir, None).files
      .filter(f => pickedFiles(f.path)).nonEmpty)
    // the branch is untouched and still independently readable
    assert(ManifestTable.branchSnapshot(spark, dir, "fix").count() == 20)
    // a picked file shared with main survives dropping the branch
    ManifestTable.dropBranch(dir, "fix")
    assert(ManifestTable.snapshot(spark, dir).count() == 16,
      "dropBranch must not reclaim files main now references")
    // guards: absent commit refuses
    ManifestTable.createBranch(dir, "g")
    val e = intercept[IllegalArgumentException](ManifestTable.cherryPick(dir, "g", 99L))
    assert(e.getMessage.contains("no commit"))
  }

  test("branch DML triad: delete/update/merge stage on the branch, audit, publish; main isolated") {
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).map(i => (i, i * 10L)).toDF("k", "v")
      .repartition(2), dir, Seq("k")) // v1
    ManifestTable.createBranch(dir, "corr")
    // the whole correction is staged ON the branch: remove k=3, double
    // v where k <= 2, upsert k=5 (replace) and k=11 (insert)
    ManifestTable.deleteOnBranch(spark, dir, "corr", $"k" === 3L)                 // corr@2
    ManifestTable.updateOnBranch(spark, dir, "corr", $"k" <= 2L,
      Map("v" -> ($"v" * 2L)))                                                    // corr@3
    ManifestTable.mergeOnBranch(Seq((5L, 555L), (11L, 111L)).toDF("k", "v"),
      dir, "corr", Seq("k"))                                                      // corr@4
    // audit surface = the branch; main untouched
    val staged = ManifestTable.branchSnapshot(spark, dir, "corr")
      .as[(Long, Long)].collect().toMap
    val want = ((1L to 10L).filterNot(_ == 3L).map(i => i -> i * 10L).toMap
      + (1L -> 20L) + (2L -> 40L) + (5L -> 555L) + (11L -> 111L))
    assert(staged == want, s"staged correction must compose all three ops: $staged")
    assert(ManifestTable.snapshot(spark, dir).as[(Long, Long)].collect().toMap ==
      (1L to 10L).map(i => i -> i * 10L).toMap, "main must stay isolated while staged")
    // publish: fast-forward lands the audited chain, each commit time-travelable
    val headV = ManifestTable.fastForward(dir, "corr")
    assert(headV == 4L)
    assert(ManifestTable.snapshot(spark, dir).as[(Long, Long)].collect().toMap == want)
    assert(ManifestTable.snapshot(spark, dir, asOf = Some(2L)).count() == 9,
      "published intermediate rewrite must be time-travelable")
    // no-match ops are no-ops (no empty commits)
    ManifestTable.createBranch(dir, "noop")
    assert(ManifestTable.deleteOnBranch(spark, dir, "noop", $"k" === 999L) == 4L)
    assert(ManifestTable.updateOnBranch(spark, dir, "noop", $"k" === 999L,
      Map("v" -> lit(0L))) == 4L)
    ManifestTable.dropBranch(dir, "noop")
  }

  test("livePaths walks rename aliases: pre-rename files keep pruning by their old-name envelopes") {
    val dir = freshDir()
    ManifestTable.commit((1L to 100L).map(i => (i, i)).toDF("k", "v")
      .repartitionByRange(4, $"v"), dir, Seq("v"))
    ManifestTable.renameColumn(dir, "v", "val")
    ManifestTable.commit(Seq((200L, 200L)).toDF("k", "val"), dir, Seq("val"))
    // pre-rename files hold their envelopes under 'v'; without the
    // alias walk they read as null-envelope and silently over-prune
    val all = ManifestTable.livePaths(spark, dir, "val", lit(1L), lit(200L))
    assert(all.size == 5, s"every file overlaps the full range, got ${all.size}")
    val some = ManifestTable.livePaths(spark, dir, "val", lit(30L), lit(40L))
    assert(some.nonEmpty && some.size < 5,
      s"a narrow range must prune pre-rename files BY ENVELOPE, got ${some.size}")
    // and the pruned scan stays bit-identical to the plain filter
    assert(ManifestTable.prunedScan(spark, dir, "val", lit(30L), lit(40L))
      .select("k").as[Long].collect().sorted.toSeq == (30L to 40L))
  }

  test("cherry-pick replays a branch CoW REWRITE onto a diverged main; genuine conflicts refuse") {
    val dir = freshDir()
    ManifestTable.commit((1L to 10L).toDF("id").repartition(2), dir, Seq("id")) // v1
    ManifestTable.createBranch(dir, "fix")
    ManifestTable.commitToBranch((11L to 15L).toDF("id"), dir, "fix", Seq("id")) // fix@2 append
    val rwV = ManifestTable.deleteOnBranch(spark, dir, "fix",
      $"id" === 3L || $"id" === 12L) // fix@3: CoW rewrite on the branch
    assert(rwV == 3L)
    assert(ManifestTable.branchSnapshot(spark, dir, "fix").as[Long].collect().sorted.toSeq ==
      (1L to 15L).filterNot(Set(3L, 12L)))
    ManifestTable.commit(Seq(100L).toDF("id"), dir, Seq("id")) // main v2 — diverged
    intercept[IllegalStateException](ManifestTable.fastForward(dir, "fix"))
    // replay IN ORDER: the append first (its files go live on main),
    // then the rewrite (swaps branch-visible files, incl. the appended)
    assert(ManifestTable.cherryPick(dir, "fix", 2L) == 3L)
    assert(ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq ==
      ((1L to 15L) :+ 100L).sorted)
    assert(ManifestTable.cherryPick(dir, "fix", 3L) == 4L)
    assert(ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq ==
      ((1L to 15L).filterNot(Set(3L, 12L)) :+ 100L).sorted)
    ManifestTable.dropBranch(dir, "fix")
    assert(ManifestTable.snapshot(spark, dir).count() == 14,
      "dropBranch must keep files main history references")
    // GENUINE CONFLICT: main rewrote the very file the branch rewrite
    // replaces — refuse loudly, main untouched
    val d2 = freshDir()
    ManifestTable.commit((1L to 10L).toDF("id").repartition(1), d2, Seq("id"))
    ManifestTable.createBranch(d2, "c2")
    val bv2 = ManifestTable.deleteOnBranch(spark, d2, "c2", $"id" === 5L)
    ManifestTable.delete(spark, d2, $"id" === 6L) // main rewrites the same file
    val e = intercept[IllegalStateException](ManifestTable.cherryPick(d2, "c2", bv2))
    assert(e.getMessage.contains("file-set conflict"), e.getMessage)
    assert(ManifestTable.snapshot(spark, d2).as[Long].collect().sorted.toSeq ==
      (1L to 10L).filterNot(_ == 6L))
    // MoR DELTA: a merge-on-read delete landed on main since the fork —
    // its tombstones would not bind the replayed fresh-seq files
    val d3 = freshDir()
    ManifestTable.commit((1L to 10L).toDF("id").repartition(1), d3, Seq("id"))
    ManifestTable.commit((11L to 20L).toDF("id").repartition(1), d3, Seq("id"))
    ManifestTable.createBranch(d3, "c3")
    val bv3 = ManifestTable.deleteOnBranch(spark, d3, "c3", $"id" === 5L)
    ManifestTable.deleteByKey(Seq(15L).toDF("id"), d3, keys = Seq("id"))
    val e3 = intercept[IllegalStateException](ManifestTable.cherryPick(d3, "c3", bv3))
    assert(e3.getMessage.contains("merge-on-read"), e3.getMessage)
  }

  test("cursor pins with dash-prefixed names never collide (a vs a-b)") {
    val dir = freshDir()
    ManifestTable.commit(Seq(1L).toDF("id"), dir, Seq("id"))
    // 'a' is a dash-prefix of 'a-b': the longer name's marker must not be
    // parsed as a marker of the shorter one
    ManifestTable.pinCursor(dir, "a", 1L)
    ManifestTable.pinCursor(dir, "a-b", 3L)
    ManifestTable.pinCursor(dir, "a", 2L) // retire step walks a's markers only
    assert(ManifestTable.cursorPins(dir) == Map("a" -> 2L, "a-b" -> 3L))
    assert(ManifestTable.dropCursorPin(dir, "a"))
    assert(ManifestTable.cursorPins(dir) == Map("a-b" -> 3L),
      "dropping 'a' must not take 'a-b' markers with it")
    assert(ManifestTable.dropCursorPin(dir, "a-b"))
    assert(ManifestTable.cursorPins(dir).isEmpty)
  }

  test("concurrent appends both land exactly once (optimistic loop)") {
    val dir = freshDir()
    ManifestTable.commit(Seq(0L).toDF("id"), dir, Seq("id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val fs = Seq((1 to 40).map(_.toLong), (41 to 90).map(_.toLong)).map { rows =>
      scala.concurrent.Future {
        barrier.await() // maximize the race window on the commit loop
        ManifestTable.commit(rows.toDF("id"), dir, Seq("id"))
      }
    }
    val vs = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(fs), scala.concurrent.duration.Duration("120s"))
    pool.shutdown()
    assert(vs.toSet == Set(2L, 3L), s"both writers must win distinct versions, got $vs")
    val ids = ManifestTable.snapshot(spark, dir).as[Long].collect().sorted
    assert(ids.toSeq == (0L to 90L), "nothing lost, nothing doubled")
  }

  test("pruned scan is bit-identical to the plain filter and opens fewer files") {
    val dir = freshDir()
    val df = (1 to 10000).map(i => (i.toLong, (i % 7).toDouble)).toDF("id", "v")
    // range-clustered staging => tight per-file envelopes
    ManifestTable.commit(df.repartitionByRange(8, $"id"), dir, Seq("id", "v"))
    val all = ManifestTable.manifest(dir, None).files.map(_.path)
    assert(all.size >= 8)
    val live = ManifestTable.livePaths(spark, dir, "id", lit(2000L), lit(2999L))
    assert(live.size < all.size / 2, s"narrow range must skip most files (${live.size}/${all.size})")
    val pruned = ManifestTable.prunedScan(spark, dir, "id", lit(2000L), lit(2999L))
      .orderBy("id").collect().toSeq
    val plain = ManifestTable.snapshot(spark, dir)
      .filter($"id".between(2000L, 2999L)).orderBy("id").collect().toSeq
    assert(pruned == plain)
    // empty range resolves to zero files, correct empty frame w/ schema
    val none = ManifestTable.prunedScan(spark, dir, "id", lit(999999L), lit(999999L))
    assert(none.count() == 0 && none.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("numeric envelopes are native-ordered, not lexicographic (mixed-width values)") {
    val dir = freshDir()
    // one file holding 900..1300: a string-ranked max would be "999",
    // understating the envelope and wrongly skipping [1000,1300] probes
    ManifestTable.commit((900 to 1300).map(_.toLong).toDF("id").repartition(1), dir, Seq("id"))
    val m = ManifestTable.manifest(dir, None)
    assert(m.files.head.mins("id").contains("900") && m.files.head.maxs("id").contains("1300"))
    val hit = ManifestTable.prunedScan(spark, dir, "id", lit(1200L), lit(1250L))
    assert(hit.count() == 51, "mixed-width numeric range must not be skipped")
  }

  test("all-null tracked column files are skipped — BETWEEN cannot match them") {
    val dir = freshDir()
    val withVals = Seq((1L, Some(10L)), (2L, Some(20L))).toDF("id", "t")
    val allNull = Seq((3L, None: Option[Long]), (4L, None: Option[Long])).toDF("id", "t")
    ManifestTable.commit(withVals, dir, Seq("t"))
    ManifestTable.commit(allNull, dir, Seq("t"))
    val live = ManifestTable.livePaths(spark, dir, "t", lit(0L), lit(100L))
    val m = ManifestTable.manifest(dir, None)
    assert(live.size < m.files.size, "the all-null file must not be opened")
    assert(ManifestTable.prunedScan(spark, dir, "t", lit(0L), lit(100L)).count() == 2)
  }

  test("timestamp envelopes round-trip through the string stats exactly") {
    val dir = freshDir()
    val df = spark.range(0, 1000)
      .select($"id", timestamp_micros(
        lit(1704067200000000L) + ($"id" * 97000000L + lit(123456L))).as("ts"))
    ManifestTable.commit(df.repartitionByRange(6, $"ts"), dir, Seq("ts"))
    val lo = lit("2024-01-01 05:00:00").cast("timestamp")
    val hi = lit("2024-01-01 09:00:00").cast("timestamp")
    val pruned = ManifestTable.prunedScan(spark, dir, "ts", lo, hi).orderBy("id").collect().toSeq
    val plain = ManifestTable.snapshot(spark, dir).filter($"ts".between(lo, hi))
      .orderBy("id").collect().toSeq
    assert(pruned == plain && pruned.nonEmpty)
    assert(ManifestTable.livePaths(spark, dir, "ts", lo, hi).size <
      ManifestTable.manifest(dir, None).files.size)
  }

  test("compact folds small commits into range-clustered files transactionally") {
    val dir = freshDir()
    (0 until 5).foreach { b =>
      ManifestTable.commit(
        ((b * 100) until ((b + 1) * 100)).map(_.toLong).toDF("id"), dir, Seq("id"))
    }
    val before = ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq
    val v = ManifestTable.compact(spark, dir, clusterBy = "id", numFiles = 2)
    assert(v == 6L)
    val after = ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq
    assert(after == before, "compaction must not change content")
    // post-compaction pruning works off the fresh tight envelopes
    val live = ManifestTable.livePaths(spark, dir, "id", lit(0L), lit(10L))
    assert(live.size <= ManifestTable.manifest(dir, None).files.size / 2)
    // pre-compaction version still time-travels
    assert(ManifestTable.snapshot(spark, dir, asOf = Some(5L)).count() == 500)
  }

  test("expireSnapshots drops history, GCs only unreferenced files, keeps the head") {
    val dir = freshDir()
    ManifestTable.commit((1 to 10).map(_.toLong).toDF("id"), dir, Seq("id"))
    ManifestTable.replace((11 to 15).map(_.toLong).toDF("id"), dir, Seq("id"))
    val v1Files = ManifestTable.manifest(dir, Some(1L)).files.map(_.path)
    ManifestTable.expireSnapshots(dir, keepLast = 1)
    assert(ManifestTable.versions(dir).sorted == Seq(2L))
    // the expired version's files are gone; reading it fails loudly
    assert(v1Files.forall(p => !new java.io.File(p).exists()))
    val e = intercept[IllegalArgumentException] {
      ManifestTable.snapshot(spark, dir, asOf = Some(1L))
    }
    assert(e.getMessage.contains("expired"))
    assert(ManifestTable.snapshot(spark, dir).count() == 5)
  }

  test("expire keeps files still referenced by retained snapshots (append chains share files)") {
    val dir = freshDir()
    ManifestTable.commit((1 to 10).map(_.toLong).toDF("id"), dir, Seq("id"))
    ManifestTable.commit((11 to 20).map(_.toLong).toDF("id"), dir, Seq("id"))
    // v2 references v1's files too; expiring v1 must delete NOTHING
    ManifestTable.expireSnapshots(dir, keepLast = 1)
    assert(ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq == (1L to 20L))
  }

  test("streaming append sink: replayed batch is a no-op (no dup rows, no orphan files)") {
    val dir = freshDir()
    ManifestTable.commit(Seq(1L, 2L).toDF("id"), dir, Seq("id"), txn = Some("stream-0"))
    ManifestTable.commit(Seq(3L).toDF("id"), dir, Seq("id"), txn = Some("stream-1"))
    val dataDirs = Option(new java.io.File(dir, "data").listFiles()).get.length
    // crash window: batch 1 re-fires after a lost ack
    ManifestTable.commit(Seq(3L).toDF("id"), dir, Seq("id"), txn = Some("stream-1"))
    assert(ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(ManifestTable.latestVersion(dir).contains(2L), "replay must not mint a version")
    assert(Option(new java.io.File(dir, "data").listFiles()).get.length == dataDirs,
      "replay must not stage orphan data")
  }

  test("delete rewrites only touched files; SQL null semantics; no-match is a no-op") {
    val dir = freshDir()
    // 4 range-clustered files over id 1..400; v is null on a stripe
    val df = (1 to 400).map(i => (i.toLong, if (i % 10 == 0) None else Some(i.toLong)))
      .toDF("id", "v")
    ManifestTable.commit(df.repartitionByRange(4, $"id"), dir, Seq("id"))
    val before = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    // cond true only inside one file's range; null v rows there must SURVIVE
    val v2 = ManifestTable.delete(spark, dir, $"v".between(1L, 50L))
    assert(v2 == 2L)
    val after = ManifestTable.manifest(dir, None)
    val untouchedKept = before.intersect(after.files.map(_.path).toSet)
    assert(untouchedKept.size == 3, s"exactly one file rewrites, got ${4 - untouchedKept.size}")
    val ids = ManifestTable.snapshot(spark, dir).select("id").as[Long].collect().sorted.toSeq
    val expect = (1L to 400L).filterNot(i => i >= 1 && i <= 50 && i % 10 != 0)
    assert(ids == expect, "null-cond rows survive a DELETE (SQL semantics)")
    // no row matches: table untouched, head version returned as-is
    assert(ManifestTable.delete(spark, dir, $"id" > 10000L) == 2L)
    assert(ManifestTable.versions(dir).sorted == Seq(1L, 2L))
  }

  test("delete that empties a file drops its entry (zero-part staging)") {
    val dir = freshDir()
    ManifestTable.commit(
      (1 to 100).map(_.toLong).toDF("id").repartitionByRange(2, $"id"), dir, Seq("id"))
    val nFiles = ManifestTable.manifest(dir, None).files.size
    ManifestTable.delete(spark, dir, $"id" <= 50L)
    val m = ManifestTable.manifest(dir, None)
    assert(m.files.size < nFiles, "fully-deleted file's entry must drop")
    assert(ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq == (51L to 100L))
  }

  test("merge replaces matched keys, appends new ones, rewrites only touched files") {
    val dir = freshDir()
    val df = (1 to 300).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
    ManifestTable.commit(df.repartitionByRange(3, $"id"), dir, Seq("id"))
    val before = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    // updates hit ONLY the first file's range; inserts carry fresh keys
    val src = (Seq((5L, -5.0), (10L, -10.0)) ++ Seq((1001L, 7.0))).toDF("id", "v")
    val v2 = ManifestTable.merge(src, dir, keys = Seq("id"))
    assert(v2 == 2L)
    val after = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    assert(before.intersect(after).size == 2, "two untouched files keep their entries")
    val back = ManifestTable.snapshot(spark, dir).as[(Long, Double)].collect().toMap
    assert(back.size == 301)
    assert(back(5L) == -5.0 && back(10L) == -10.0 && back(1001L) == 7.0)
    assert(back(6L) == 6.0, "non-matched rows in the rewritten file survive")
    // pure insert (no key matches): no existing file rewrites
    val v3 = ManifestTable.merge(Seq((2002L, 1.0)).toDF("id", "v"), dir, Seq("id"))
    assert(v3 == 3L)
    val files3 = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    assert(after.subsetOf(files3), "pure insert must not rewrite any file")
  }

  test("merge rejects duplicate-key sources and schema mismatches eagerly") {
    val dir = freshDir()
    ManifestTable.commit(Seq((1L, 1.0)).toDF("id", "v"), dir, Seq("id"))
    val dup = intercept[IllegalArgumentException] {
      ManifestTable.merge(Seq((7L, 1.0), (7L, 2.0)).toDF("id", "v"), dir, Seq("id"))
    }
    assert(dup.getMessage.contains("duplicate"))
    val cols = intercept[IllegalArgumentException] {
      ManifestTable.merge(Seq((7L, "x")).toDF("id", "other"), dir, Seq("id"))
    }
    assert(cols.getMessage.contains("must match table"))
    assert(ManifestTable.latestVersion(dir).contains(1L), "failed merges commit nothing")
  }

  test("eager guards: nondeterministic delete cond and null merge keys are rejected") {
    val dir = freshDir()
    ManifestTable.commit(Seq((1L, 1.0)).toDF("id", "v"), dir, Seq("id"))
    val nd = intercept[IllegalArgumentException] {
      ManifestTable.delete(spark, dir, rand() < 0.5)
    }
    assert(nd.getMessage.contains("deterministic"))
    val nk = intercept[IllegalArgumentException] {
      ManifestTable.merge(
        Seq((None: Option[Long], 2.0)).toDF("id", "v"), dir, Seq("id"))
    }
    assert(nk.getMessage.contains("null key"))
    assert(ManifestTable.latestVersion(dir).contains(1L), "rejected ops commit nothing")
  }

  test("merge replay via txn is exactly-once; rewrite rebases over concurrent appends") {
    val dir = freshDir()
    ManifestTable.commit(Seq((1L, 1.0)).toDF("id", "v"), dir, Seq("id"))
    val v = ManifestTable.merge(Seq((1L, 9.0)).toDF("id", "v"), dir, Seq("id"), txn = Some("b7"))
    assert(ManifestTable.merge(Seq((1L, 9.0)).toDF("id", "v"), dir, Seq("id"), txn = Some("b7")) == v,
      "replayed txn returns the committed version without re-writing")
    assert(ManifestTable.versions(dir).size == 2)
    // rebase: resolve the head, let an append land, then install the rewrite
    val base = ManifestTable.manifest(dir, None)
    ManifestTable.commit(Seq((50L, 5.0)).toDF("id", "v"), dir, Seq("id"))
    ManifestTable.installRewrite(
      Seq((1L, 99.0)).toDF("id", "v"), dir, base, base.files.map(_.path).toSet, None)
    val back = ManifestTable.snapshot(spark, dir).as[(Long, Double)].collect().toMap
    assert(back == Map(1L -> 99.0, 50L -> 5.0), "concurrent append must survive the rewrite")
  }

  test("tryInstall loses cleanly: claiming an existing version returns -1 and never clobbers the winner") {
    val dir = freshDir()
    ManifestTable.commit(Seq(1L).toDF("id"), dir, Seq("id"))
    val winner = ManifestTable.manifest(dir, Some(1L))
    // a racing writer re-attempts version 1 with DIFFERENT content: the
    // claim must fail (-1), not silently replace (POSIX rename would)
    val loser = winner.copy(txn = Some("loser"), files = Seq.empty)
    assert(ManifestTable.tryInstall(dir, loser) == -1L)
    val after = ManifestTable.manifest(dir, Some(1L))
    assert(after.txn == winner.txn && after.files.map(_.path) == winner.files.map(_.path),
      "the winner's manifest must survive a lost race untouched")
  }

  test("compact rebases concurrent appends instead of erasing them") {
    val dir = freshDir()
    (0 until 3).foreach(b =>
      ManifestTable.commit(((b * 10) until (b * 10 + 10)).map(_.toLong).toDF("id"), dir, Seq("id")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val fCompact = scala.concurrent.Future {
      barrier.await(); ManifestTable.compact(spark, dir, "id", numFiles = 1)
    }
    val fAppend = scala.concurrent.Future {
      barrier.await()
      (0 until 4).foreach(i =>
        ManifestTable.commit(Seq((100 + i).toLong).toDF("id"), dir, Seq("id")))
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(fCompact, fAppend)),
      scala.concurrent.duration.Duration("120s"))
    pool.shutdown()
    val ids = ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq
    assert(ids == ((0L to 29L) ++ (100L to 103L)),
      s"every append racing the compaction must survive, got ${ids.size} rows")
  }

  test("merge refuses to rebase over an append that contains a merged key") {
    val dir = freshDir()
    ManifestTable.commit(Seq((1L, "a")).toDF("k", "v"), dir, Seq("k"))
    val base = ManifestTable.manifest(dir, None)
    // concurrent append lands key 7 AFTER the merge resolved its head
    ManifestTable.commit(Seq((7L, "appended")).toDF("k", "v"), dir, Seq("k"))
    val srcKeys = Seq(7L).toDF("k")
    val e = intercept[java.util.ConcurrentModificationException] {
      ManifestTable.installRewrite(
        Seq((1L, "a"), (7L, "merged")).toDF("k", "v"), dir, base,
        base.files.map(_.path).toSet, None, Some((srcKeys, Seq("k"))))
    }
    assert(e.getMessage.contains("duplicate keys"))
    // a NON-overlapping append rebases fine under the same probe
    val base2 = ManifestTable.manifest(dir, None)
    ManifestTable.commit(Seq((50L, "other")).toDF("k", "v"), dir, Seq("k"))
    ManifestTable.installRewrite(
      Seq((1L, "a2"), (7L, "m2")).toDF("k", "v"), dir, base2,
      base2.files.map(_.path).toSet, None, Some((Seq(7L).toDF("k"), Seq("k"))))
    val back = ManifestTable.snapshot(spark, dir).as[(Long, String)].collect().toMap
    assert(back == Map(1L -> "a2", 7L -> "m2", 50L -> "other"))
  }

  test("timestamp envelopes are zone-independent (epoch-micros stats)") {
    val dir = freshDir()
    val df = spark.range(0, 100)
      .select($"id", timestamp_micros(lit(1704067200000000L) + $"id" * 3600000000L).as("ts"))
    ManifestTable.commit(df.repartitionByRange(4, $"ts"), dir, Seq("ts"))
    val zone = spark.conf.get("spark.sql.session.timeZone")
    try {
      // a reader in a DIFFERENT zone must prune against the same instants
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val lo = timestamp_micros(lit(1704067200000000L + 10L * 3600000000L))
      val hi = timestamp_micros(lit(1704067200000000L + 20L * 3600000000L))
      val pruned = ManifestTable.prunedScan(spark, dir, "ts", lo, hi)
        .orderBy("id").collect().toSeq
      val plain = ManifestTable.snapshot(spark, dir).filter($"ts".between(lo, hi))
        .orderBy("id").collect().toSeq
      assert(pruned == plain && pruned.size == 11,
        "cross-zone reader must see the identical row set")
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("rewrite against files a concurrent writer removed fails loudly") {
    val dir = freshDir()
    ManifestTable.commit(Seq((1L, 1.0)).toDF("id", "v"), dir, Seq("id"))
    val base = ManifestTable.manifest(dir, None)
    // concurrent compaction replaces the file set the rewrite depends on
    ManifestTable.replace(Seq((1L, 1.0)).toDF("id", "v"), dir, Seq("id"))
    val e = intercept[java.util.ConcurrentModificationException] {
      ManifestTable.installRewrite(
        Seq((1L, 2.0)).toDF("id", "v"), dir, base, base.files.map(_.path).toSet, None)
    }
    assert(e.getMessage.contains("concurrent writer removed"))
  }

  test("additive schema evolution: appends may add columns, never drop or retype") {
    val dir = freshDir()
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "s"), dir, Seq("id"))
    // add a column: old files read it as NULL, snapshot schema moves
    ManifestTable.commit(Seq((2L, "b", Some(9.5))).toDF("id", "s", "score"), dir, Seq("id"))
    val back = ManifestTable.snapshot(spark, dir).orderBy("id")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(back == Seq((1L, "a", None), (2L, "b", Some(9.5))))
    // dropping a column is rejected
    val drop = intercept[IllegalArgumentException] {
      ManifestTable.commit(Seq((3L, 1.0)).toDF("id", "score"), dir, Seq("id"))
    }
    assert(drop.getMessage.contains("drops column"))
    // LOSSY retyping is rejected (a narrow-to-wide upcast — int id
    // into the bigint column — is legal by design: see WidenSpec)
    val retype = intercept[IllegalArgumentException] {
      ManifestTable.commit(Seq((4L, "c", "oops")).toDF("id", "s", "score"), dir, Seq("id"))
    }
    assert(retype.getMessage.contains("retypes column"))
    ManifestTable.commit(Seq((4, "c", 1.0)).toDF("id", "s", "score")
      .selectExpr("CAST(id AS INT) AS id", "s", "score"), dir, Seq("id"))
    assert(ManifestTable.snapshot(spark, dir).schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    // changing the tracked columns on append is rejected (stat holes)
    val tr = intercept[IllegalArgumentException] {
      ManifestTable.commit(Seq((5L, "d", Some(1.0))).toDF("id", "s", "score"), dir, Seq("score"))
    }
    assert(tr.getMessage.contains("tracked columns"))
    // replace may restructure freely
    ManifestTable.replace(Seq((9L, true)).toDF("id", "flag"), dir, Seq("id"))
    assert(ManifestTable.snapshot(spark, dir).columns.toSeq == Seq("id", "flag"))
  }

  test("streaming upsert sink: bootstrap, LWW apply, exactly-once replay") {
    val dir = freshDir()
    // batch 0 bootstraps the table
    ManifestStream.upsertBatch(
      Seq((1L, "v1"), (2L, "v1")).toDF("k", "v"), 0L, dir, Seq("k"), Seq("k"))
    // batch 1 updates k=2, inserts k=3
    ManifestStream.upsertBatch(
      Seq((2L, "v2"), (3L, "v2")).toDF("k", "v"), 1L, dir, Seq("k"), Seq("k"))
    val want = Map(1L -> "v1", 2L -> "v2", 3L -> "v2")
    assert(ManifestTable.snapshot(spark, dir).as[(Long, String)].collect().toMap == want)
    val vHead = ManifestTable.latestVersion(dir).get
    // crash window: batch 1 re-fires; no new version, no state change
    ManifestStream.upsertBatch(
      Seq((2L, "v2"), (3L, "v2")).toDF("k", "v"), 1L, dir, Seq("k"), Seq("k"))
    assert(ManifestTable.latestVersion(dir).contains(vHead), "replay must not mint a version")
    assert(ManifestTable.snapshot(spark, dir).as[(Long, String)].collect().toMap == want)
  }

  test("changes: update pairs + inserts + deletes; carried rewrite rows cancel") {
    val dir = freshDir()
    ManifestTable.commit(
      (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(1), dir, Seq("k"))
    // merge: update k=7 (same file carries 99 untouched rows), insert k=200
    ManifestTable.merge(Seq((7L, "NEW"), (200L, "x")).toDF("k", "v"), dir, Seq("k"))
    val feed = ManifestTable.changes(spark, dir, 1L, 2L)
      .as[(Long, String, String)].collect().toSet
    assert(feed == Set((7L, "v7", "delete"), (7L, "NEW", "insert"), (200L, "x", "insert")),
      s"carried rows must cancel, got $feed")
    // delete commit: feed is deletes only
    ManifestTable.delete(spark, dir, $"k" <= 3L)
    val feed2 = ManifestTable.changes(spark, dir, 2L, 3L)
      .as[(Long, String, String)].collect().toSet
    assert(feed2 == Set((1L, "v1", "delete"), (2L, "v2", "delete"), (3L, "v3", "delete")))
    // spanning feed composes both commits
    val span = ManifestTable.changes(spark, dir, 1L, 3L)
    assert(span.filter($"_change" === "delete").count() == 4)
    assert(span.filter($"_change" === "insert").count() == 2)
  }

  test("merge-on-read deletes: O(keys) commit, sequence-scoped application, re-insert never shadowed, materialize pays the debt") {
    val dir = freshDir()
    val base = (1 to 100).map(i => (i.toLong, s"g${i % 4}", i * 1.0)).toDF("k", "g", "v")
    ManifestTable.commit(base.repartitionByRange(4, $"k"), dir, Seq("k"))
    val dataDirs0 = Option(new java.io.File(dir, "data").listFiles()).get.count(_.isDirectory)
    // MoR delete: nothing rewrites, one tombstone file lands
    ManifestTable.deleteByKey(Seq(7L, 8L, 50L).toDF("k"), dir, Seq("k"))
    val m2 = ManifestTable.manifest(dir, None)
    assert(m2.deleteFiles.size == 1 && m2.deleteFiles.head.rows == 3)
    assert(m2.files.map(_.path) == ManifestTable.manifest(dir, Some(1L)).files.map(_.path),
      "MoR delete must not touch data files")
    // every reader path applies the tombstones
    assert(ManifestTable.snapshot(spark, dir).count() == 97)
    assert(ManifestTable.snapshot(spark, dir).filter($"k".isin(7L, 8L, 50L)).count() == 0)
    assert(ManifestTable.prunedScan(spark, dir, "k", lit(1L), lit(10L)).count() == 8)
    // time travel before the delete still sees the rows
    assert(ManifestTable.snapshot(spark, dir, asOf = Some(1L)).count() == 100)
    // sequence rule: re-inserting key 7 AFTER the delete is never shadowed
    ManifestTable.commit(Seq((7L, "g7", 777.0)).toDF("k", "g", "v"), dir, Seq("k"))
    val re = ManifestTable.snapshot(spark, dir).filter($"k" === 7L).collect()
    assert(re.length == 1 && re.head.getDouble(2) == 777.0, "re-insert must win over the older tombstone")
    // a second MoR delete stacks; CoW ops now COMPOSE with the pending
    // tombstones instead of refusing
    ManifestTable.deleteByKey(Seq(9L).toDF("k"), dir, Seq("k"))
    assert(ManifestTable.snapshot(spark, dir).count() == 96 + 1) // 100 - {7,8,50,9} + re-inserted 7
    // the change feed across the tombstone-ADDING commit surfaces the
    // newly-killed row as a delete (bounded to the files that hold it)
    val morFeed = ManifestTable.changes(spark, dir, 3L, 4L).collect()
    assert(morFeed.length == 1 && morFeed.head.getLong(0) == 9L
      && morFeed.head.getString(3) == "delete",
      s"feed across a MoR delete must be exactly the killed row, got ${morFeed.toSeq}")
    // CoW DELETE with tombstones pending: computes through the applied
    // view, carries the tombstones, and the rewritten file's fresh seq
    // means the old tombstones never re-apply to it
    val v5 = ManifestTable.delete(spark, dir, $"k" === 1L)
    val m5del = ManifestTable.manifest(dir, None)
    assert(m5del.deleteFiles.size == 2, "pending tombstones must carry across a CoW delete")
    assert(ManifestTable.snapshot(spark, dir).count() == 96)
    assert(ManifestTable.snapshot(spark, dir).filter($"k".isin(7L, 8L, 9L, 50L)).count() == 1,
      "only the re-inserted key 7 survives; carried tombstones still apply to untouched files")
    // MERGE with tombstones pending: tombstoned keys are invisible to
    // the upsert (update key 2, insert key 200)
    ManifestTable.merge(
      Seq((2L, "gX", 222.0), (200L, "gN", 200.0)).toDF("k", "g", "v"), dir, Seq("k"))
    assert(ManifestTable.snapshot(spark, dir).count() == 97)
    assert(ManifestTable.snapshot(spark, dir).filter($"k" === 2L).head().getDouble(2) == 222.0)
    assert(ManifestTable.snapshot(spark, dir).filter($"k" === 9L).count() == 0)
    // feed ranges where tombstones DISAPPEAR (materialize/restore) refuse
    // with the boundary diagnosis
    // materialize: rewrites only affected files, drops tombstones, content identical
    val before = ManifestTable.snapshot(spark, dir).orderBy("k", "v").collect().toSeq
    val v7 = ManifestTable.materializeDeletes(spark, dir)
    val m7 = ManifestTable.manifest(dir, None)
    assert(m7.deleteFiles.isEmpty && m7.deleteKeys.isEmpty)
    assert(ManifestTable.snapshot(spark, dir).orderBy("k", "v").collect().toSeq == before,
      "materialize must not change table content")
    val boundary = intercept[IllegalArgumentException](
      ManifestTable.changes(spark, dir, 4L, v7))
    assert(boundary.getMessage.contains("REMOVED merge-on-read"))
    // the untouched file (keys 76..100 range, no tombstoned keys) carried its entry
    val carried = ManifestTable.manifest(dir, Some(1L)).files.map(_.path)
      .intersect(m7.files.map(_.path))
    assert(carried.nonEmpty, "files without tombstoned rows must carry, not rewrite")
    // post-materialize CoW still works; GC sweeps expired tombstones
    assert(ManifestTable.delete(spark, dir, $"k" === 2L) == v7 + 1)
    ManifestTable.expireSnapshots(dir, keepLast = 1)
    ManifestTable.vacuum(dir, minAgeMs = -1L)
    assert(ManifestTable.snapshot(spark, dir).count() == before.size - 1)
    val _ = (dataDirs0, v5)
  }

  test("streaming retraction sink: per-batch MoR delete commits, replay no-ops, materialize closes the loop") {
    val dir = freshDir()
    ManifestTable.commit((1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    ManifestStream.deleteBatch(Seq(5L, 6L).toDF("k"), 0L, dir, Seq("k"))
    ManifestStream.deleteBatch(Seq(7L).toDF("k"), 1L, dir, Seq("k"))
    assert(ManifestTable.snapshot(spark, dir).count() == 47)
    // replay of batch 1: txn marker short-circuits, nothing stacks twice
    val head = ManifestTable.latestVersion(dir).get
    ManifestStream.deleteBatch(Seq(7L).toDF("k"), 1L, dir, Seq("k"))
    assert(ManifestTable.latestVersion(dir).contains(head))
    // empty batches commit nothing
    ManifestStream.deleteBatch(Seq.empty[Long].toDF("k"), 2L, dir, Seq("k"))
    assert(ManifestTable.latestVersion(dir).contains(head))
    // maintenance closes the loop
    ManifestTable.materializeDeletes(spark, dir)
    assert(ManifestTable.manifest(dir, None).deleteFiles.isEmpty)
    assert(ManifestTable.snapshot(spark, dir).count() == 47)
  }

  test("SQL over a snapshot view with pending MoR deletes stays correct (rule falls back, tombstones still apply)") {
    val dir = freshDir()
    ManifestTable.commit((1 to 60).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .repartitionByRange(4, $"k"), dir, Seq("k"))
    ManifestTable.deleteByKey(Seq(10L, 20L).toDF("k"), dir, Seq("k"))
    // the snapshot is now a join plan, not a bare parquet relation, so
    // the ManifestSkipping rule cannot (and must not) rewrite it — the
    // typed SQL answer still reflects the tombstones exactly
    ManifestTable.createView(spark, dir, "mor_view")
    val got = spark.sql("SELECT count(*) AS n, sum(v) AS s FROM mor_view WHERE k BETWEEN 5 AND 25")
      .collect().head
    // keys 5..25 minus {10, 20}: 19 rows; sum of 2k over survivors
    assert(got.getLong(0) == 19)
    assert(got.getDouble(1) == (5 to 25).filterNot(Set(10, 20)).map(_ * 2.0).sum)
    // after materialize the view is a bare relation again and prunes
    ManifestTable.materializeDeletes(spark, dir)
    ManifestTable.createView(spark, dir, "mor_view")
    val again = spark.sql("SELECT count(*) AS n FROM mor_view WHERE k BETWEEN 5 AND 25").collect().head
    assert(again.getLong(0) == 19)
  }

  test("a CoW rewrite refuses to install over a tombstone that landed mid-rewrite") {
    val dir = freshDir()
    ManifestTable.commit((1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    val base = ManifestTable.manifest(dir, None)
    // the rewrite is computed against v1...
    val kept = ManifestTable.snapshot(spark, dir).filter($"k" =!= 3L)
    // ...then a merge-on-read delete lands before it installs: committing
    // the rewrite would give its files a fresh seq that outranks the
    // tombstone — rows would silently resurrect
    ManifestTable.deleteByKey(Seq(10L).toDF("k"), dir, Seq("k"))
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.installRewrite(kept, dir, base, base.files.map(_.path).toSet, None)
    }
    // table state is untouched by the refused install
    assert(ManifestTable.snapshot(spark, dir).count() == 39) // 40 - tombstoned 10
  }

  test("MoR delete guards: wrong key columns, null keys, key-spec switch all fail loudly") {
    val dir = freshDir()
    ManifestTable.commit((1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    intercept[IllegalArgumentException](
      ManifestTable.deleteByKey(Seq(1L).toDF("nope"), dir, Seq("nope")))
    intercept[IllegalArgumentException](
      ManifestTable.deleteByKey(Seq((1L, "x")).toDF("k", "v"), dir, Seq("k")))
    intercept[IllegalArgumentException](
      ManifestTable.deleteByKey(Seq(Option.empty[java.lang.Long]).toDF("k"), dir, Seq("k")))
    ManifestTable.deleteByKey(Seq(1L).toDF("k"), dir, Seq("k"))
    intercept[IllegalArgumentException](
      ManifestTable.deleteByKey(Seq("v1").toDF("v"), dir, Seq("v")))
    // idempotent replay via txn
    val v = ManifestTable.deleteByKey(Seq(2L).toDF("k"), dir, Seq("k"), txn = Some("mor-1"))
    assert(ManifestTable.deleteByKey(Seq(2L).toDF("k"), dir, Seq("k"), txn = Some("mor-1")) == v)
    assert(ManifestTable.snapshot(spark, dir).count() == 8)
  }

  test("legacy inline-file-list heads read unchanged and upgrade to segments on the next commit") {
    val dir = freshDir()
    ManifestTable.commit((1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    val m1 = ManifestTable.manifest(dir, None)
    // rewrite v1's head in the PRE-SEGMENTATION format: inline "files",
    // no "segments" key — exactly what an old table has on disk
    val inline = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      val files = m1.files.map { f =>
        ("path" -> f.path) ~ ("rows" -> f.rows) ~ ("seq" -> f.seq) ~
          ("mins" -> f.mins.map { case (k, v) => k -> v }) ~
          ("maxs" -> f.maxs.map { case (k, v) => k -> v })
      }
      JsonMethods.compact(JsonMethods.render(
        ("version" -> m1.version) ~ ("parent" -> m1.parent) ~ ("txn" -> m1.txn) ~
          ("schema" -> m1.schemaJson) ~ ("track" -> m1.track) ~ ("files" -> files)))
    }
    val mdir = new java.io.File(dir, "_manifests")
    // drop v1's head AND its segments, install the legacy head
    mdir.listFiles().foreach(f => f.delete(): Unit)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_manifests", f"m-${1L}%012d.json"),
      inline.getBytes("UTF-8"))
    // reads resolve identically from the inline list
    val back = ManifestTable.manifest(dir, None)
    assert(back.files == m1.files)
    assert(ManifestTable.snapshot(spark, dir).count() == 20)
    // the next commit writes the NEW format (head + one segment) and
    // the chain keeps working
    ManifestTable.commit(Seq((21L, "v21")).toDF("k", "v"), dir, Seq("k"))
    assert(ManifestTable.snapshot(spark, dir).count() == 21)
    val segs = mdir.list().count(_.startsWith("seg-"))
    assert(segs >= 1, "upgraded commit must write segmented metadata")
    assert(ManifestTable.snapshot(spark, dir, asOf = Some(1L)).count() == 20,
      "time travel to the legacy version still works")
  }

  test("segmented commits write O(delta) manifest bytes, not O(total files)") {
    val dir = freshDir()
    val mdir = new java.io.File(dir, "_manifests")
    def manifestBytes: Map[String, Long] =
      Option(mdir.listFiles()).getOrElse(Array.empty)
        .map(f => f.getName -> f.length()).toMap
    var segCosts = Vector.empty[Long]
    (1 to 30).foreach { i =>
      val before = manifestBytes
      ManifestTable.commit(Seq((i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
      val after = manifestBytes
      // file-entry bytes this commit wrote = the fresh segment(s) only;
      // the head carries names, not entries
      segCosts :+= after.collect {
        case (n, sz) if n.startsWith("seg-") && !before.contains(n) => sz
      }.sum
    }
    // ENTRY bytes per commit are O(delta): the 30th single-file commit
    // writes one 1-entry segment, same as the 5th — never the full list
    assert(segCosts(29) <= segCosts(4) * 2,
      s"segment cost grew with table size: commit5=${segCosts(4)} B, commit30=${segCosts(29)} B")
    // total new metadata (head + segment) stays far below re-rendering
    // the full file list (what the legacy inline format wrote per
    // commit ≈ the sum of all live segments)
    val fullListBytes = manifestBytes.collect { case (n, sz) if n.startsWith("seg-") => sz }.sum
    val headBytes = manifestBytes(f"m-${30L}%012d.json")
    assert(headBytes + segCosts(29) < fullListBytes,
      s"commit 30 wrote ${headBytes + segCosts(29)} B, inline would write ~$fullListBytes B")
    // the head is bounded by the segment FOLD, not by file count: with
    // MaxSegments=64 names of ~60 B it can never exceed a few KB
    assert(headBytes < 8192, s"head must stay O(segments): $headBytes B")
    assert(ManifestTable.snapshot(spark, dir).count() == 30)
    assert(ManifestTable.manifest(dir, None).files.size == 30)
    // a rewrite (delete) touches ONE file: only broken segments rewrite
    val before = manifestBytes
    ManifestTable.delete(spark, dir, $"k" === 15L)
    val after = manifestBytes
    val rewriteSegCost = after.collect {
      case (n, sz) if n.startsWith("seg-") && !before.contains(n) => sz
    }.sum
    assert(rewriteSegCost < fullListBytes / 4,
      s"selective delete rewrote O(table) entry metadata: $rewriteSegCost B")
    assert(ManifestTable.snapshot(spark, dir).count() == 29)
  }

  test("segment fold: beyond MaxSegments live segments a commit folds them, amortized O(1)") {
    val dir = freshDir()
    val mdir = new java.io.File(dir, "_manifests")
    (1 to 70).foreach { i =>
      ManifestTable.commit(Seq((i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    }
    // 70 single-file commits crossed the 64-segment fold at least once:
    // the head's live segment count is far below the commit count
    val head = ManifestTable.manifest(dir, None)
    assert(head.files.size == 70)
    val liveSegs = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmt: Formats = DefaultFormats
      val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_manifests", f"m-${head.version}%012d.json")), "UTF-8"))
      (j \ "segments").extract[Seq[String]]
    }
    assert(liveSegs.size < 64, s"fold must bound live segments, got ${liveSegs.size}")
    assert(ManifestTable.snapshot(spark, dir).count() == 70)
    // expire drops unreferenced segments with the heads that owned them
    ManifestTable.expireSnapshots(dir, keepLast = 1)
    val segsOnDisk = mdir.list().count(_.startsWith("seg-"))
    assert(segsOnDisk == liveSegs.size,
      s"expire must GC segments referenced only by dropped heads: $segsOnDisk vs ${liveSegs.size}")
  }

  test("UPDATE: touched-file CoW, SQL null-cond semantics, type pin, composes with pending tombstones") {
    val dir = freshDir()
    val base = (1 to 100).map(i =>
      (i.toLong, s"g${i % 4}", if (i % 10 == 0) None else Some(i * 1.0)))
      .toDF("k", "g", "v")
    ManifestTable.commit(base.repartitionByRange(4, $"k"), dir, Seq("k"))
    val before = ManifestTable.manifest(dir, None)
    // update rows 1..25 (first range file): only that file rewrites
    ManifestTable.update(spark, dir, $"k" <= 25L, Map("v" -> ($"v" * 2)))
    val after = ManifestTable.manifest(dir, None)
    assert(before.files.map(_.path).intersect(after.files.map(_.path)).size >= 2,
      "UPDATE must rewrite only files containing a matching row (upper ranges carry)")
    val got = ManifestTable.snapshot(spark, dir).orderBy("k")
      .select($"k", $"v").as[(Long, Option[Double])].collect()
    got.foreach { case (k, v) =>
      val want = if (k % 10 == 0) None else Some(if (k <= 25) k * 2.0 else k * 1.0)
      assert(v == want, s"k=$k: got $v want $want")
    }
    // a NULL condition row is untouched (SQL UPDATE semantics): cond on
    // v is null for the k%10 rows — their g must not change
    ManifestTable.update(spark, dir, $"v" > 1000.0, Map("g" -> lit("huge")))
    assert(ManifestTable.snapshot(spark, dir).filter($"g" === "huge").count() == 0)
    // retype and unknown-column guards
    intercept[IllegalArgumentException](
      ManifestTable.update(spark, dir, $"k" === 1L, Map("v" -> lit("oops"))))
    intercept[IllegalArgumentException](
      ManifestTable.update(spark, dir, $"k" === 1L, Map("nope" -> lit(1.0))))
    intercept[IllegalArgumentException](
      ManifestTable.update(spark, dir, rand() > 0.5, Map("v" -> lit(1.0))))
    // composes with pending MoR tombstones: tombstoned rows neither
    // match nor resurrect; the tombstones carry
    ManifestTable.deleteByKey(Seq(30L, 31L).toDF("k"), dir, Seq("k"))
    ManifestTable.update(spark, dir, $"k".between(28L, 34L), Map("v" -> lit(-1.0)))
    val m = ManifestTable.manifest(dir, None)
    assert(m.deleteFiles.size == 1, "pending tombstones must carry across an UPDATE")
    val win = ManifestTable.snapshot(spark, dir)
      .filter($"k".between(28L, 34L)).select($"k", $"v").as[(Long, Option[Double])]
      .collect().toMap
    assert(!win.contains(30L) && !win.contains(31L), "tombstoned keys stay deleted")
    assert(Seq(28L, 29L, 32L, 33L, 34L).forall(k => win(k).contains(-1.0)))
  }

  test("positional MoR deletes: O(rows) tombstones, path-scoped application, stack with equality deletes, materialize folds both") {
    val dir = freshDir()
    val base = (1 to 100).map(i => (i.toLong, s"g${i % 4}", i * 1.0)).toDF("k", "g", "v")
    ManifestTable.commit(base.repartitionByRange(4, $"k"), dir, Seq("k"))
    val files1 = ManifestTable.manifest(dir, None).files.map(_.path)
    // DELETE WHERE as positional tombstones: nothing rewrites
    ManifestTable.deleteWhere(spark, dir, $"v" > 90.0)
    val m2 = ManifestTable.manifest(dir, None)
    assert(m2.files.map(_.path) == files1, "positional delete must not touch data files")
    assert(m2.posDeleteFiles.size == 1 && m2.posDeleteFiles.head.rows == 10)
    assert(ManifestTable.snapshot(spark, dir).count() == 90)
    assert(ManifestTable.snapshot(spark, dir).agg(max("v")).head().getDouble(0) == 90.0)
    // no-match condition: no version committed
    val h2 = ManifestTable.latestVersion(dir).get
    assert(ManifestTable.deleteWhere(spark, dir, $"v" > 1e9) == h2)
    // stacks freely with equality deletes (no key-spec constraint)
    ManifestTable.deleteByKey(Seq(5L, 6L).toDF("k"), dir, Seq("k"))
    ManifestTable.deleteWhere(spark, dir, $"k" === 7L)
    assert(ManifestTable.snapshot(spark, dir).count() == 87)
    // already-tombstoned rows are never re-named: a second sweep of the
    // same predicate is a no-op version-wise
    val h4 = ManifestTable.latestVersion(dir).get
    assert(ManifestTable.deleteWhere(spark, dir, $"k" === 7L) == h4)
    // time travel before the deletes still sees everything
    assert(ManifestTable.snapshot(spark, dir, asOf = Some(1L)).count() == 100)
    // CoW UPDATE composes: rewritten files fold their tombstoned rows
    // out; pos tombstones CARRY for untouched files
    ManifestTable.update(spark, dir, $"k" === 10L, Map("v" -> lit(1000.0)))
    val m5 = ManifestTable.manifest(dir, None)
    assert(m5.posDeleteFiles.size == 2, "pos tombstones carry across a CoW rewrite")
    assert(ManifestTable.snapshot(spark, dir).count() == 87)
    assert(ManifestTable.snapshot(spark, dir).filter($"k" === 7L).count() == 0,
      "tombstones on the REWRITTEN file were folded in; on others they still apply")
    // the change feed surfaces positionally-killed rows as deletes
    val feed = ManifestTable.changes(spark, dir, 1L, 2L)
      .select($"k", $"_change").as[(Long, String)].collect().toSet
    assert(feed == (91L to 100L).map(k => (k, "delete")).toSet, s"got $feed")
    // materialize folds BOTH kinds and clears them
    val before = ManifestTable.snapshot(spark, dir).orderBy("k").collect().toSeq
    ManifestTable.materializeDeletes(spark, dir)
    val m6 = ManifestTable.manifest(dir, None)
    assert(!m6.hasMorDeletes && m6.deleteKeys.isEmpty)
    assert(ManifestTable.snapshot(spark, dir).orderBy("k").collect().toSeq == before)
  }

  test("reserved __ column names are rejected at commit (they would collide with the MoR machinery)") {
    val dir = freshDir()
    val e = intercept[IllegalArgumentException](
      ManifestTable.commit(Seq((1L, "x")).toDF("k", "__bname"), dir, Seq("k")))
    assert(e.getMessage.contains("reserved __ prefix"))
    intercept[IllegalArgumentException](
      ManifestTable.commitAudited(Seq((1L, "x")).toDF("k", "__rowidx"), dir, Seq("k"),
        audit = b => b.select(count(lit(1)).cast("long").as("n_violations")).filter(lit(false))))
  }

  test("applied reads never shuffle the fact side: tombstone joins broadcast the metadata sides") {
    val dir = freshDir()
    ManifestTable.commit((1 to 1000).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .repartitionByRange(4, $"k"), dir, Seq("k"))
    ManifestTable.deleteWhere(spark, dir, $"v" > 990.0)
    ManifestTable.deleteByKey(Seq(5L).toDF("k"), dir, Seq("k"))
    val snap = ManifestTable.snapshot(spark, dir)
    assert(snap.count() == 989)
    // at 100 TB the fact side must stream ONCE through broadcast joins
    // of the metadata-sized seq maps and tombstones — an RDD-backed seq
    // frame once reported unknown (infinite) size here and flipped the
    // planner into broadcasting the FACT side / sort-merging the anti
    // join (caught by a plan audit; this spec keeps it caught)
    val shuffles = snap.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"applied read must not shuffle:\n${snap.queryExecution.executedPlan}")
    val planStr = snap.queryExecution.executedPlan.toString
    assert(!planStr.contains("SortMergeJoin"), "tombstone joins must broadcast at this scale")
  }

  test("tags: immutable named refs resolve, survive expiry, and refuse silent re-pointing") {
    val dir = freshDir()
    ManifestTable.commit((1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    ManifestTable.commit(Seq((11L, "v11")).toDF("k", "v"), dir, Seq("k"))
    ManifestTable.commit(Seq((12L, "v12")).toDF("k", "v"), dir, Seq("k"))
    ManifestTable.tag(dir, "audit-q1", 1L)
    assert(ManifestTable.resolveTag(dir, "audit-q1").contains(1L))
    assert(ManifestTable.tags(dir) == Map("audit-q1" -> 1L))
    // same (name, version) converges; different version refuses
    ManifestTable.tag(dir, "audit-q1", 1L)
    intercept[IllegalArgumentException](ManifestTable.tag(dir, "audit-q1", 2L))
    intercept[IllegalArgumentException](ManifestTable.tag(dir, "bad name!", 1L))
    intercept[IllegalArgumentException](ManifestTable.tag(dir, "gone", 99L))
    // expiry keeps the tagged snapshot readable
    ManifestTable.expireSnapshots(dir, keepLast = 1)
    assert(ManifestTable.snapshot(spark, dir, asOf = Some(1L)).count() == 10,
      "a tagged snapshot must survive expiry")
    assert(!ManifestTable.versions(dir).contains(2L), "untagged old versions still expire")
    // dropping the tag releases it to the next expiry
    assert(ManifestTable.dropTag(dir, "audit-q1"))
    ManifestTable.expireSnapshots(dir, keepLast = 1)
    intercept[Exception](ManifestTable.snapshot(spark, dir, asOf = Some(1L)).count())
  }

  test("netChanges crosses maintenance boundaries the bounded feed refuses, via full applied diff") {
    val dir = freshDir()
    ManifestTable.commit((1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    ManifestTable.deleteByKey(Seq(3L, 7L).toDF("k"), dir, Seq("k"))
    ManifestTable.materializeDeletes(spark, dir)
    ManifestTable.commit(Seq((21L, "v21")).toDF("k", "v"), dir, Seq("k"))
    val head = ManifestTable.latestVersion(dir).get
    // a range STARTING at the tombstoned version loses those delete
    // files across the materialize — the bounded feed refuses it...
    intercept[IllegalArgumentException](ManifestTable.changes(spark, dir, 2L, head))
    // ...netChanges answers it as the net applied diff (the tombstoned
    // rows were already invisible at v2, so only the insert remains)
    val feed = ManifestTable.netChanges(spark, dir, 2L, head)
      .select($"k", $"_change").as[(Long, String)].collect().toSet
    assert(feed == Set((21L, "insert")), s"got $feed")
    // clean-endpoint ranges crossing the SAME materialize stay on the
    // file-bounded path and carry the tombstone deletes correctly
    val bounded = ManifestTable.netChanges(spark, dir, 1L, head)
      .select($"k", $"_change").as[(Long, String)].collect().toSet
    assert(bounded == Set((3L, "delete"), (7L, "delete"), (21L, "insert")), s"got $bounded")
  }

  test("addColumns: metadata-only evolution; appends can widen but never tighten nullability") {
    val dir = freshDir()
    ManifestTable.commit((1 to 6).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    val files = ManifestTable.manifest(dir, None).files
    ManifestTable.addColumns(dir, Seq(
      org.apache.spark.sql.types.StructField("note", org.apache.spark.sql.types.StringType)))
    // zero data I/O, old rows read NULL
    assert(ManifestTable.manifest(dir, None).files == files)
    val snap = ManifestTable.snapshot(spark, dir)
    assert(snap.schema("note").nullable && snap.filter($"note".isNull).count() == 6)
    // an append whose analyzed schema marks note NON-NULL (literal
    // values) must not tighten the table schema: old files would fail
    // to read and count(note) would rewrite to count(*)
    ManifestTable.commit(Seq((7L, "v7", "hello")).toDF("k", "v", "note"), dir, Seq("k"))
    val after = ManifestTable.snapshot(spark, dir)
    assert(after.schema("note").nullable, "append tightened nullability")
    assert(after.count() == 7 && after.filter($"note".isNotNull).count() == 1)
    // non-nullable add refused; duplicate add refused
    intercept[IllegalArgumentException](ManifestTable.addColumns(dir, Seq(
      org.apache.spark.sql.types.StructField("strict", org.apache.spark.sql.types.LongType,
        nullable = false))))
    intercept[IllegalArgumentException](ManifestTable.addColumns(dir, Seq(
      org.apache.spark.sql.types.StructField("note", org.apache.spark.sql.types.StringType))))
  }

  test("stitched netChanges across a MATERIALIZE boundary is bounded: only touched files read") {
    val dir = freshDir()
    // 4 range-clustered files over k=1..20
    ManifestTable.commit((1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, $"k"), dir, Seq("k"))
    val v1Files = ManifestTable.manifest(dir, Some(1L)).files.map(_.path).toSet
    ManifestTable.deleteByKey(Seq(3L, 4L).toDF("k"), dir, Seq("k")) // v2: one file's range
    ManifestTable.commit(Seq((21L, "v21")).toDF("k", "v"), dir, Seq("k")) // v3
    ManifestTable.materializeDeletes(spark, dir) // v4: state-preserving, tombstones REMOVED
    assert(ManifestTable.manifest(dir, Some(4L)).statePreserving)
    ManifestTable.commit(Seq((22L, "v22")).toDF("k", "v"), dir, Seq("k")) // v5
    val feed = ManifestTable.netChanges(spark, dir, 1L, 5L)
    val got = feed.select($"k", $"_change").as[(Long, String)].collect().toSet
    assert(got == Set((3L, "delete"), (4L, "delete"), (21L, "insert"), (22L, "insert")))
    // boundedness: the stitch reads the two appended files plus the ONE
    // shared file the tombstone probe needs — never the materialize
    // rewrite's replacement file, never the 3 untouched v1 files
    val read = feed.inputFiles.map(_.replaceFirst("^file:", "")).toSet
    val rewritten = ManifestTable.manifest(dir, Some(4L)).files.map(_.path).toSet -- v1Files
    assert(rewritten.nonEmpty && read.intersect(rewritten).isEmpty,
      s"stitched feed must not read the materialize rewrite: ${read.intersect(rewritten)}")
    val tombed = v1Files.filter(read) // shared files the probe actually opened
    assert(tombed.size <= 1, s"probe must open only the file holding k=3,4: $tombed")
  }

  test("netChanges over a MoR-UPDATE delta commit: deletes + re-inserts in one version, bounded to touched files") {
    val dir = freshDir()
    ManifestTable.commit((1 to 20).map(i => (i.toLong, i.toLong)).toDF("k", "v")
      .repartitionByRange(4, $"k"), dir, Seq("k"))
    val v1Files = ManifestTable.manifest(dir, Some(1L)).files.map(_.path).toSet
    // the delta: keys 3,4 tombstoned AND re-inserted doubled, one commit
    ManifestTable.updateMor(spark, dir, $"k".between(3L, 4L),
      Map("v" -> (col("v") * 2)), Seq("k"))
    val feed = ManifestTable.netChanges(spark, dir, 1L, 2L)
    val got = feed.select($"k", $"v", $"_change").as[(Long, Long, String)].collect().toSet
    assert(got == Set((3L, 3L, "delete"), (4L, 4L, "delete"),
      (3L, 6L, "insert"), (4L, 8L, "insert")),
      s"the delta's feed is retraction + new version, got $got")
    // bounded: the feed reads the ONE v1 file holding k=3,4 (for the
    // tombstoned old rows) plus the delta's new file — never the three
    // untouched range files
    val read = feed.inputFiles.map(_.replaceFirst("^file:", "")).toSet
    assert(read.intersect(v1Files).size <= 1,
      s"feed must open only the tombstoned keys' file: ${read.intersect(v1Files)}")
  }

  test("stitched netChanges across a full COMPACT boundary (tombstones cleared in the rewrite)") {
    val dir = freshDir()
    ManifestTable.commit((1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, $"k"), dir, Seq("k"))
    ManifestTable.deleteByKey(Seq(5L).toDF("k"), dir, Seq("k")) // v2
    ManifestTable.compact(spark, dir, "k", 2) // v3: full rewrite, clears tombstones
    assert(ManifestTable.manifest(dir, Some(3L)).statePreserving)
    ManifestTable.commit(Seq((30L, "v30")).toDF("k", "v"), dir, Seq("k")) // v4
    val got = ManifestTable.netChanges(spark, dir, 1L, 4L)
      .select($"k", $"_change").as[(Long, String)].collect().toSet
    assert(got == Set((5L, "delete"), (30L, "insert")), s"got $got")
  }

  test("netChanges across a RESTORE boundary still falls back (restore is state-CHANGING)") {
    val dir = freshDir()
    ManifestTable.commit((1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    ManifestTable.deleteByKey(Seq(3L, 7L).toDF("k"), dir, Seq("k")) // v2: 18 visible
    ManifestTable.restore(dir, 1L) // v3: tombstones REMOVED, rows 3 and 7 resurrect
    assert(!ManifestTable.manifest(dir, Some(3L)).statePreserving)
    val got = ManifestTable.netChanges(spark, dir, 2L, 3L)
      .select($"k", $"_change").as[(Long, String)].collect().toSet
    assert(got == Set((3L, "insert"), (7L, "insert")), s"got $got")
    // the fallback (not the stitch) must ALSO bridge additive evolution:
    // range (2, 4] crosses the restore AND a schema change
    ManifestTable.commit(Seq((21L, "v21", "x")).toDF("k", "v", "extra"), dir, Seq("k")) // v4
    val evolved = ManifestTable.netChanges(spark, dir, 2L, 4L)
      .select($"k", $"_change", $"extra").as[(Long, String, Option[String])].collect().toSet
    assert(evolved == Set((3L, "insert", None), (7L, "insert", None), (21L, "insert", Some("x"))),
      s"got $evolved")
  }

  test("netChanges stitches through toV's schema (evolution + materialize boundary)") {
    val dir = freshDir()
    ManifestTable.commit((1 to 20).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    ManifestTable.deleteByKey(Seq(3L, 7L).toDF("k"), dir, Seq("k")) // v2: tombstones pending
    ManifestTable.materializeDeletes(spark, dir) // v3: tombstones REMOVED
    // v4: ADDITIVE schema evolution lands after the boundary
    ManifestTable.commit(Seq((21L, "v21", "x")).toDF("k", "v", "extra"), dir, Seq("k"))
    val head = ManifestTable.latestVersion(dir).get
    // the range starts AT the tombstoned version and crosses BOTH the
    // materialize boundary and the schema change: the bounded feed
    // refuses, and the fallback must adopt toV's schema for the from
    // side (old files read `extra` as NULL) instead of failing the
    // EXCEPT ALL on column count
    intercept[IllegalArgumentException](ManifestTable.changes(spark, dir, 2L, head))
    val feed = ManifestTable.netChanges(spark, dir, 2L, head)
      .select($"k", $"_change", $"extra").as[(Long, String, Option[String])].collect().toSet
    assert(feed == Set((21L, "insert", Some("x"))), s"got $feed")
  }

  test("lost commit race evicts the fresh segment from disk AND the segment cache") {
    val dir = freshDir()
    ManifestTable.commit((1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    val head = ManifestTable.manifest(dir, None)
    val manifests = new java.io.File(dir, "_manifests")
    def segsOnDisk() = manifests.list().filter(_.startsWith("seg-")).toSet
    val before = segsOnDisk()
    // collide on the SAME version: parent=None forces a fresh segment
    // (no reuse map), and the install must lose the race
    val loser = head.copy(parent = None,
      files = head.files.map(f => f.copy(path = f.path + ".ghost")))
    assert(ManifestTable.tryInstall(dir, loser) == -1L)
    assert(segsOnDisk() == before, "the loser's fresh segment file must be deleted")
    // the eagerly-populated cache entry must go with it — under
    // sustained contention stale entries would otherwise accumulate
    val fld = ManifestTable.getClass.getDeclaredFields
      .find(_.getName.endsWith("segCache")).get
    fld.setAccessible(true)
    val cache = fld.get(ManifestTable)
      .asInstanceOf[java.util.concurrent.ConcurrentHashMap[(String, String), _]]
    val stale = cache.keySet().iterator()
    var leaked = List.empty[String]
    while (stale.hasNext) {
      val (d, n) = stale.next()
      if (d == dir && !before(n)) leaked ::= n
    }
    assert(leaked.isEmpty, s"lost-race segment entries leaked in segCache: $leaked")
  }

  test("empty-key MoR delete commits nothing and never wedges a later key-spec switch") {
    val dir = freshDir()
    ManifestTable.commit((1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v"), dir, Seq("k"))
    val head = ManifestTable.latestVersion(dir).get
    // an empty key frame must be a no-op: no version, no deleteKeys set
    assert(ManifestTable.deleteByKey(
      Seq.empty[Long].toDF("k"), dir, Seq("k")) == head)
    val m = ManifestTable.manifest(dir, None)
    assert(m.version == head && m.deleteKeys.isEmpty && m.deleteFiles.isEmpty)
    // ...so a later delete with a DIFFERENT key spec is not wedged
    ManifestTable.deleteByKey(Seq("v3").toDF("v"), dir, Seq("v"))
    assert(ManifestTable.snapshot(spark, dir).count() == 9)
    ManifestTable.materializeDeletes(spark, dir)
    // a LEGACY keys-but-no-files manifest (written before the empty-frame
    // short-circuit) is unwedged by materializeDeletes clearing the spec
    val h = ManifestTable.manifest(dir, None)
    assert(ManifestTable.tryInstall(dir,
      h.copy(version = h.version + 1, parent = Some(h.version),
        deleteKeys = Seq("k"), deleteFiles = Nil)) > 0)
    assert(ManifestTable.manifest(dir, None).deleteKeys == Seq("k"))
    ManifestTable.materializeDeletes(spark, dir)
    val cleared = ManifestTable.manifest(dir, None)
    assert(cleared.deleteKeys.isEmpty && cleared.deleteFiles.isEmpty)
    ManifestTable.deleteByKey(Seq("v5").toDF("v"), dir, Seq("v"))
    assert(ManifestTable.snapshot(spark, dir).count() == 8)
  }

  test("compact with pending tombstones folds them in and clears the delete state") {
    val dir = freshDir()
    ManifestTable.commit((1 to 40).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .repartitionByRange(4, $"k"), dir, Seq("k"))
    ManifestTable.deleteByKey(Seq(3L, 17L, 33L).toDF("k"), dir, Seq("k"))
    val want = ManifestTable.snapshot(spark, dir).orderBy("k").collect().toSeq
    ManifestTable.compact(spark, dir, "k", numFiles = 2)
    val m = ManifestTable.manifest(dir, None)
    assert(m.deleteFiles.isEmpty && m.deleteKeys.isEmpty,
      "a full rewrite has applied every tombstone — carrying them would be dead weight")
    assert(ManifestTable.snapshot(spark, dir).orderBy("k").collect().toSeq == want)
  }

  test("a THROWING audit callback reclaims staging like a failing audit does") {
    val dir = freshDir()
    ManifestTable.commit(Seq((1L, "a")).toDF("k", "v"), dir, Seq("k"))
    val dirs0 = Option(new java.io.File(dir, "data").listFiles()).get.count(_.isDirectory)
    intercept[RuntimeException](ManifestTable.commitAudited(
      Seq((2L, "b")).toDF("k", "v"), dir, Seq("k"),
      audit = _ => throw new RuntimeException("user bug in the audit")))
    val dirs1 = Option(new java.io.File(dir, "data").listFiles()).get.count(_.isDirectory)
    assert(dirs1 == dirs0, "staging must be reclaimed when the audit itself throws")
    assert(ManifestTable.snapshot(spark, dir).count() == 1, "head untouched")
  }

  test("ChangeFeedView rejects key/value columns that collide with its reserved outputs") {
    val dir = freshDir()
    ManifestTable.commit(Seq((1L, 2.0, "x", 5.0)).toDF("n", "total", "g", "amt"), dir, Seq("n"))
    intercept[IllegalArgumentException](
      ChangeFeedView.init(spark, dir, Seq("n"), "amt"))
    intercept[IllegalArgumentException](
      ChangeFeedView.init(spark, dir, Seq("g"), "total"))
    // non-colliding columns are fine
    assert(ChangeFeedView.init(spark, dir, Seq("g"), "amt").count() == 1)
  }

  test("write-audit-publish: failing audit aborts with head untouched and staging reclaimed; passing audit publishes") {
    val dir = freshDir()
    def audit(batch: org.apache.spark.sql.DataFrame) =
      graft.operators.Stats.dqChecks(batch, notNull = Seq("v"), uniqueKeys = Seq(Seq("k")))
    ManifestTable.commitAudited(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, Seq("k"), audit)
    assert(ManifestTable.latestVersion(dir).contains(1L))
    // bad batch: a null v AND a duplicate key — abort, no version, no orphan
    val e = intercept[IllegalStateException] {
      ManifestTable.commitAudited(
        Seq((3L, null: String), (4L, "d"), (4L, "dd")).toDF("k", "v"), dir, Seq("k"), audit)
    }
    assert(e.getMessage.contains("audit failed"))
    assert(ManifestTable.latestVersion(dir).contains(1L), "failed audit must not move the head")
    assert(ManifestTable.snapshot(spark, dir).count() == 2)
    // the staged bad data was reclaimed immediately (not left for vacuum)
    val dataDirs = Option(new java.io.File(dir, "data").listFiles()).get.filter(_.isDirectory)
    assert(dataDirs.length == 1, s"bad staging must be deleted, found ${dataDirs.length} dirs")
    // clean batch publishes; txn replay short-circuits without re-audit
    val v = ManifestTable.commitAudited(
      Seq((5L, "e")).toDF("k", "v"), dir, Seq("k"), audit, txn = Some("wap-1"))
    assert(v == 2L)
    val v2 = ManifestTable.commitAudited(
      Seq((5L, "e")).toDF("k", "v"), dir, Seq("k"), audit, txn = Some("wap-1"))
    assert(v2 == 2L && ManifestTable.snapshot(spark, dir).count() == 3)
  }

  test("restore: metadata-only rollback — content reverts, history stays, GC keeps restored files") {
    val dir = freshDir()
    val base = (1 to 60).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    ManifestTable.commit(base.repartition(3), dir, Seq("k"))
    ManifestTable.merge(Seq((5L, "BAD"), (999L, "BAD")).toDF("k", "v"), dir, Seq("k"))
    ManifestTable.delete(spark, dir, $"k" <= 10L)
    val dataDirsBefore = Option(new java.io.File(dir, "data").listFiles()).get.length
    // rollback: new head = v1's content, nothing copied
    val v = ManifestTable.restore(dir, 1L)
    assert(v == 4L)
    assert(Option(new java.io.File(dir, "data").listFiles()).get.length == dataDirsBefore,
      "restore must not write data")
    assert(ManifestTable.snapshot(spark, dir).orderBy("k").collect().toSeq ==
      base.orderBy("k").collect().toSeq)
    // the bad commits remain time-travelable
    assert(ManifestTable.snapshot(spark, dir, asOf = Some(3L)).filter($"k" === 5L).count() == 0)
    // restoring to the head is a no-op; restoring forward is rejected
    assert(ManifestTable.restore(dir, 4L) == 4L)
    assert(ManifestTable.latestVersion(dir).contains(4L))
    intercept[IllegalArgumentException](ManifestTable.restore(dir, 9L))
    // life goes on: appends after a restore stack on the restored content
    ManifestTable.commit(Seq((100L, "new")).toDF("k", "v"), dir, Seq("k"))
    assert(ManifestTable.snapshot(spark, dir).count() == 61)
    // expiry + vacuum never collect files the restored head references
    ManifestTable.expireSnapshots(dir, keepLast = 2)
    ManifestTable.vacuum(dir, minAgeMs = -1L)
    assert(ManifestTable.snapshot(spark, dir).orderBy("k").collect().length == 61)
  }

  test("ChangeFeedView: feed-folded rollup == full recompute at every version, deletes retract exactly") {
    import graft.sources.ChangeFeedView
    val dir = freshDir()
    val base = (1 to 100).map(i => (i.toLong, s"g${i % 3}", i * 1.01)).toDF("k", "g", "v")
    ManifestTable.commit(base.repartition(4), dir, Seq("k"))
    // v2: merge (updates shift values, inserts add a key)
    ManifestTable.merge(
      Seq((7L, "g1", 700.0), (8L, "g2", 800.0), (200L, "g0", 5.5)).toDF("k", "g", "v"),
      dir, Seq("k"))
    // v3: delete a slice (including all of one group's low keys)
    ManifestTable.delete(spark, dir, $"k" <= 9L)
    def direct(v: Long) = ChangeFeedView.init(spark, dir, Seq("g"), "v", asOf = Some(v))
      .orderBy("g").collect().toSeq
    val v1 = ChangeFeedView.init(spark, dir, Seq("g"), "v", asOf = Some(1L))
    val v2 = ChangeFeedView.advance(spark, v1, dir, Seq("g"), "v", 1L, 2L)
    assert(v2.orderBy("g").collect().toSeq == direct(2L), "v1 + feed(1->2) must equal recompute at v2")
    val v3 = ChangeFeedView.advance(spark, v2, dir, Seq("g"), "v", 2L, 3L)
    assert(v3.orderBy("g").collect().toSeq == direct(3L), "chained advance must equal recompute at v3")
    // spanning advance composes commits
    val v3span = ChangeFeedView.advance(spark, v1, dir, Seq("g"), "v", 1L, 3L)
    assert(v3span.orderBy("g").collect().toSeq == direct(3L))
    // full retraction of a key drops it from the view exactly
    ManifestTable.delete(spark, dir, $"g" === "g1")
    val v4 = ChangeFeedView.advance(spark, v3, dir, Seq("g"), "v", 3L, 4L)
    assert(v4.filter($"g" === "g1").count() == 0, "fully-retracted group must drop out")
    assert(v4.orderBy("g").collect().toSeq == direct(4L))
  }

  test("compactSmall folds only sub-threshold files; large files keep their entries") {
    val dir = freshDir()
    ManifestTable.commit(
      (1 to 1000).map(_.toLong).toDF("id").repartition(1), dir, Seq("id"))
    (1001 to 1005).foreach(i =>
      ManifestTable.commit(Seq(i.toLong).toDF("id").repartition(1), dir, Seq("id")))
    val big = ManifestTable.manifest(dir, None).files.filter(_.rows >= 100).map(_.path)
    assert(big.size == 1 && ManifestTable.manifest(dir, None).files.size == 6)
    val v = ManifestTable.compactSmall(spark, dir, clusterBy = "id", minRows = 100L, numFiles = 1)
    val after = ManifestTable.manifest(dir, Some(v))
    assert(after.files.size == 2, "5 small files fold to 1; the big file stays")
    assert(after.files.map(_.path).contains(big.head), "large file entry untouched")
    assert(ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq == (1L to 1005L))
    // idempotent: nothing small left to fold
    assert(ManifestTable.compactSmall(spark, dir, "id", 100L, 1) == v)
  }

  test("end-to-end stream -> manifest commits -> converges to the batch table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val warehouse = tmpDir("manifest-wh").toString
    spark.conf.set("spark.sql.catalog.graftms", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftms.warehouse", warehouse)
    spark.sql("CREATE TABLE graftms.lake.streamed (id BIGINT) PARTITIONED BY (id)")
    val dir = s"$warehouse/lake/streamed"
    val ckpt = tmpDir("manifest-ckpt").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long]
    def drain(): Unit = {
      val q = mem.toDF().withColumnRenamed("value", "id").writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .toTable("graftms.lake.streamed")
      q.awaitTermination(60000)
      assert(q.exception.isEmpty, q.exception.toString)
    }
    mem.addData(1L to 100L: _*)
    drain()
    // restart on the same checkpoint: only the new offsets land
    mem.addData(101L to 150L: _*)
    drain()
    assert(ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq == (1L to 150L))
    val txns = ManifestTable.versions(dir).flatMap(v => ManifestTable.manifest(dir, Some(v)).txn)
    assert(txns.size == 2 && txns.forall(_.startsWith("stream-")), s"one txn-marked commit per epoch: $txns")
  }

  test("maintenance beside ingest: streaming appends racing compactSmall lose nothing") {
    val dir = freshDir()
    ManifestTable.commit(Seq(0L).toDF("id"), dir, Seq("id"), txn = Some("stream-0"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val ingest = scala.concurrent.Future {
      barrier.await()
      (1 to 12).foreach(b =>
        ManifestTable.commit(Seq(b.toLong).toDF("id"), dir, Seq("id"), txn = Some(s"stream-$b")))
    }
    val maintain = scala.concurrent.Future {
      barrier.await()
      (0 until 4).foreach { _ =>
        ManifestTable.compactSmall(spark, dir, clusterBy = "id", minRows = 100L, numFiles = 1): Unit
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(ingest, maintain)),
      scala.concurrent.duration.Duration("180s"))
    pool.shutdown()
    assert(ManifestTable.snapshot(spark, dir).as[Long].collect().sorted.toSeq == (0L to 12L),
      "every batch must survive interleaved compaction")
    // replay of an already-compacted batch is still a no-op
    val head = ManifestTable.latestVersion(dir)
    ManifestTable.commit(Seq(5L).toDF("id"), dir, Seq("id"), txn = Some("stream-5"))
    assert(ManifestTable.latestVersion(dir) == head)
  }

  test("updateMor: one atomic delta commit, whole-group semantics, guards") {
    val dir = freshDir()
    // duplicate key 7 on purpose: the identifier contract says a
    // k-keyed update touches the WHOLE group
    ManifestTable.commit(Seq((1L, 10L), (7L, 70L), (7L, 71L), (9L, 90L)).toDF("k", "v"),
      dir, Seq("k"))
    val before = ManifestTable.manifest(dir, None)
    val v1 = ManifestTable.updateMor(spark, dir, $"k" === 7L,
      Map("v" -> (col("v") * 100)), Seq("k"))
    val m1 = ManifestTable.manifest(dir, None)
    assert(v1 == before.version + 1, "tombstones + new rows land as ONE version")
    assert(before.files.map(_.path).forall(m1.files.map(_.path).contains) &&
      m1.deleteFiles.nonEmpty && m1.deleteKeys == Seq("k"))
    assert(ManifestTable.snapshot(spark, dir).as[(Long, Long)].collect().sorted.toSeq
      == Seq((1L, 10L), (7L, 7000L), (7L, 7100L), (9L, 90L)),
      "both rows of the duplicate-key group update; nothing resurrects or doubles")
    // no-match: no version
    assert(ManifestTable.updateMor(spark, dir, $"k" === 999L,
      Map("v" -> (col("v") + 1)), Seq("k")) == v1)
    // retype refused; NULL-condition rows untouched (SQL semantics)
    assert(intercept[IllegalArgumentException](ManifestTable.updateMor(spark, dir,
      $"k" === 1L, Map("v" -> col("v").cast("string")), Seq("k"))
    ).getMessage.contains("retypes"))
    val v2 = ManifestTable.updateMor(spark, dir,
      when($"k" === 1L, lit(null).cast("boolean")).otherwise($"k" === 9L),
      Map("v" -> lit(0L)), Seq("k"))
    assert(v2 > v1)
    assert(ManifestTable.snapshot(spark, dir).as[(Long, Long)].collect().sorted.toSeq
      == Seq((1L, 10L), (7L, 7000L), (7L, 7100L), (9L, 0L)))
  }

  test("updateMor txn marker makes crash-replay exactly-once") {
    val dir = freshDir()
    ManifestTable.commit((0L to 9L).map(k => (k, 1L)).toDF("k", "v"), dir, Seq("k"))
    val v1 = ManifestTable.updateMor(spark, dir, $"k" < 5L,
      Map("v" -> (col("v") + 10L)), Seq("k"), txn = Some("upsert-epoch-7"))
    // the replayed epoch finds its marker and commits NOTHING
    val v2 = ManifestTable.updateMor(spark, dir, $"k" < 5L,
      Map("v" -> (col("v") + 10L)), Seq("k"), txn = Some("upsert-epoch-7"))
    assert(v2 == v1 && ManifestTable.latestVersion(dir).get == v1)
    assert(ManifestTable.snapshot(spark, dir).as[(Long, Long)].collect().sorted.toSeq
      == (0L to 9L).map(k => (k, if (k < 5) 11L else 1L)),
      "the delta applied exactly once across the replay")
  }

  test("racing updateMor deltas on the SAME key converge last-writer-wins, no duplicates") {
    // two deltas computed against the same base both CAS-retry in:
    // the later commit's tombstone (seq v+1) kills BOTH the original
    // row (seq 1) and the earlier delta's re-insert (seq v) — the
    // Iceberg sequence rule makes concurrent equality-delete upserts
    // serialize by commit order with no duplicate survivors
    val dir = freshDir()
    ManifestTable.commit((0L to 9L).map(k => (k, 0L)).toDF("k", "v"), dir, Seq("k"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def race(add: Long) = scala.concurrent.Future {
      barrier.await()
      ManifestTable.updateMor(spark, dir, $"k" < 5L, Map("v" -> lit(add)), Seq("k"))
    }
    val vs = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(race(100L), race(200L))),
      scala.concurrent.duration.Duration("120s"))
    pool.shutdown()
    assert(vs.toSet.size == 2, s"both deltas must commit distinct versions: $vs")
    val got = ManifestTable.snapshot(spark, dir).as[(Long, Long)].collect().sorted.toSeq
    assert(got.size == 10, s"no duplicate survivors: $got")
    val winner = got.filter(_._1 < 5L).map(_._2).distinct
    assert(winner.size == 1 && Set(100L, 200L).contains(winner.head),
      s"updated keys must all carry ONE writer's value (LWW by commit order): $got")
    assert(got.filter(_._1 >= 5L).forall(_._2 == 0L))
  }

  test("model-based property: random commit/delete/merge/compact/MoR-delete/materialize/RENAME/BRANCH sequences match an in-memory model at every version") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    sealed trait Op
    case class Commit(rows: Map[Long, Long]) extends Op
    case class Delete(lo: Long, hi: Long) extends Op
    case class Merge(rows: Map[Long, Long]) extends Op
    case object Compact extends Op
    case class MorDelete(keys: Set[Long]) extends Op
    case class PosDelete(lo: Long, hi: Long) extends Op
    case object Materialize extends Op
    case object Rename extends Op
    case class BranchCycle(r1: Map[Long, Long], r2: Map[Long, Long]) extends Op
    case class BranchPick(br: Map[Long, Long], mr: Map[Long, Long]) extends Op
    case class BranchPickRewrite(br: Map[Long, Long], mr: Map[Long, Long]) extends Op
    case object AddTrack extends Op
    case object Zorder extends Op
    case object ToggleMode extends Op
    case class MorUpdate(lo: Long, hi: Long, add: Long) extends Op
    case object Widen extends Op
    case class SqlInsert(rows: Map[Long, Long]) extends Op
    case class MergeEvolve(rows: Map[Long, Long]) extends Op
    case class DefaultCycle(r1: Map[Long, Long], r2: Map[Long, Long]) extends Op

    val rowsGen = Gen.mapOf(Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 999L)))
    val opGen: Gen[Op] = Gen.frequency(
      4 -> rowsGen.map(Commit(_)),
      2 -> Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)).map { case (a, b) =>
        Delete(math.min(a, b), math.max(a, b)) },
      3 -> rowsGen.map(Merge(_)),
      1 -> Gen.const(Compact),
      // the z-order rewrite is compact's multi-dimension sibling: same
      // state-preserving contract, so it must interleave invisibly too
      1 -> Gen.const(Zorder),
      2 -> Gen.nonEmptyListOf(Gen.choose(0L, 30L)).map(ks => MorDelete(ks.toSet)),
      2 -> Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)).map { case (a, b) =>
        PosDelete(math.min(a, b), math.max(a, b)) },
      1 -> Gen.const(Materialize),
      // metadata-only column rename interleaves freely with DML: the
      // era-grouped read, the feed's head-chain adoption, and the CoW
      // rewrites must all stay model-exact across name boundaries (the
      // VALUE column renames; the delete-key column is guarded)
      2 -> Gen.const(Rename),
      // branch lifecycle interleaves with everything: stage two shadow
      // commits, audit the branch read against the model, fast-forward
      // — and the diverged variant cherry-picks one commit instead
      2 -> Gen.zip(rowsGen, rowsGen).map { case (a, b) => BranchCycle(a, b) },
      2 -> Gen.zip(rowsGen, rowsGen).map { case (a, b) => BranchPick(a, b) },
      // the rewrite variant: the branch stages an append AND a CoW
      // delete; both replay onto the diverged main in order
      1 -> Gen.zip(rowsGen, rowsGen).map { case (a, b) => BranchPickRewrite(a, b) },
      // track-spec evolution mid-history: first an identity column,
      // then a hidden-partitioning transform; every later op re-audits
      // scan-vs-prune per file (auditPrune)
      2 -> Gen.const(AddTrack),
      // table properties are snapshot-versioned config every commit
      // kind must CARRY verbatim (append, CoW rewrite, compact/zorder,
      // MoR tombstones, materialize, rename, branch publish,
      // cherry-pick) — the toggle alternates write.delete.mode and the
      // per-op audit proves no commit path drops or mutates the map
      2 -> Gen.const(ToggleMode),
      // the merge-on-read UPDATE delta (equality tombstones + fresh
      // rows in ONE commit, zero rewrites) interleaves with every
      // other op — its tombstones must apply seq-scoped beside the
      // equality/positional kinds, survive rewrites, and fold on
      // materialize. Key-range conditions only: dup-key groups must
      // not split (the identifier contract). NOTE: a k-keyed MorUpdate
      // updates EVERY row of a matching key (the whole group
      // re-inserts updated).
      2 -> Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L), Gen.choose(1L, 9L))
        .map { case (a, b, d) => MorUpdate(math.min(a, b), math.max(a, b), d) },
      // metadata-only type widening mid-history: the value column
      // STARTS int and widens to long once — every later op (and the
      // per-op scan-vs-prune audit + riding CDF consumer) must stay
      // model-exact across narrow-era files read under the wide type
      2 -> Gen.const(Widen),
      // the SQL write path mid-sequence: the INSERT faces whatever
      // write.distribution-mode ToggleMode last cycled to (none/hash/
      // range/zorder) — clustered modes must land model-exact files,
      // and a zorder layout the track spec cannot express (< 2 source
      // columns) must REFUSE the statement, not silently fall back
      2 -> rowsGen.map(SqlInsert(_)),
      // the full column-DEFAULT lifecycle (ADD ... DEFAULT, initial-
      // default reads + prune-claim audit, SET DEFAULT + omitted-column
      // INSERT, DROP DEFAULT, time travel, DROP COLUMN) against
      // whatever era mix the sequence drew — q237's surface under the
      // same adversarial sequencing the DML matrix faces
      2 -> Gen.zip(rowsGen, rowsGen).map { case (a, b) => DefaultCycle(a, b) },
      // MERGE WITH SCHEMA EVOLUTION mid-sequence (accept-additive):
      // the source carries a NEW column, the merge adds it + updates/
      // inserts in one statement, the op audits the evolved values and
      // then drops the column — adds/updates/drop all interleave with
      // renames, widening, MoR deltas, and the riding CDF consumer
      2 -> rowsGen.map(MergeEvolve(_)))
    val seqGen = Gen.choose(3, 7).flatMap(n => Gen.listOfN(n, opGen))

    (0 until 6).foreach { trial =>
      val drawn = seqGen.apply(Gen.Parameters.default, Seed(trial.toLong)).get
      // guaranteed coverage: the Widen arm is rare enough that a
      // 6-seed run can draw zero of them (verified against these
      // seeds) — even trials splice one in mid-sequence, so the widen
      // interleaves with whatever surrounds it while the model audit
      // stays deterministic
      val ops = {
        val spliced = if (trial % 2 == 0) {
          val (a, b) = drawn.splitAt(drawn.size / 2)
          a ++ (Widen +: b)
        } else drawn
        // same guaranteed-coverage argument for the SQL-path ops: odd
        // trials splice one SqlInsert + one MergeEvolve mid-sequence
        // (keys stay inside the 0..30 model domain the prune audits
        // assume), so the catalog write path and the additive MERGE
        // face every seed's surrounding op mix
        if (trial % 2 == 1) {
          val (a, b) = spliced.splitAt(spliced.size / 2)
          a ++ (SqlInsert(Map(7L -> 111L, 21L -> 222L)) +:
            MergeEvolve(Map(3L -> 333L, 29L -> 444L)) +:
            DefaultCycle(Map(11L -> 555L), Map(23L -> 666L)) +: b)
        } else spliced
      }
      // the table lives under a warehouse layout so the SQL ops
      // (SqlInsert / MergeEvolve) address the SAME manifest through the
      // catalog that the API ops hit directly
      val base = freshDir()
      val dir = s"$base/lake/t"
      spark.conf.set("spark.sql.catalog.fuzzcat", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.fuzzcat.warehouse", base)
      // model: multiset of (k, v) rows; commits APPEND (dup keys legal
      // in the table), deletes drop matching rows, merges upsert by key
      var model = Vector.empty[(Long, Long)]
      var history = Vector.empty[(Long, Vector[(Long, Long)])]
      var curVal = "v" // current name of the value column (renames retire old names)
      var renameN = 0
      var branchN = 0
      var trackStage = 0 // 0: only k; 1: +identity curVal; 2: +truncate(8,k); 3: +truncate(16,curVal)
      var expectedProps = Map.empty[String, String]
      var modeN = 0
      var evolveN = 0
      def auditProps(): Unit = if (history.nonEmpty) {
        val got = ManifestTable.manifest(dir, None).props
        assert(got == expectedProps,
          s"trial $trial: head props $got diverged from expected $expectedProps")
      }
      // the value column starts NARROW (int) and widens to long when a
      // Widen op fires — appends must always carry the head's exact type
      var widened = false
      def df(rows: Map[Long, Long]) = {
        val base = rows.toSeq.toDF("k", curVal)
        if (widened) base else base.withColumn(curVal, col(curVal).cast("int"))
      }
      // appends must carry the table's LIVE track spec (track-spec
      // evolution mid-sequence changes it; a stale spec refuses)
      def curTrack: Seq[String] =
        ManifestTable.latestVersion(dir)
          .map(_ => ManifestTable.manifest(dir, None).track).getOrElse(Seq("k"))
      // scan-vs-prune audit per file per version: once a column is
      // tracked mid-history, files predating the watermark must ALWAYS
      // scan (for any range) and covered files must prune by envelope —
      // run after every subsequent op, over every live file
      def auditPrune(): Unit = if (trackStage > 0 && history.nonEmpty) {
        val m = ManifestTable.manifest(dir, None)
        m.track.filterNot(_ == "k").foreach { t =>
          val spec = graft.sources.TrackSpec.parse(t)
          val uncovered = m.files.filterNot(f => m.envelopeCovers(t, f.seq)).map(_.path).toSet
          // a range no value can hit: live == exactly the uncovered files
          val none = ManifestTable.livePaths(spark, dir, t, lit(-9L), lit(-1L)).toSet
          assert(none == uncovered,
            s"trial $trial: impossible range on $t must scan exactly the " +
              s"pre-evolution files (got ${none.size}, want ${uncovered.size})")
          // the full domain: every file scans (values are 0..999, keys
          // 0..30, truncate(8,k) in 0..24 — never null)
          val lo = lit(0L)
          // domains: k-sourced truncate(8,k) spans 0..24; the identity
          // value column and truncate(16,value) both fit 0..999
          val hi = if (spec.source == "k") lit(24L) else lit(999L)
          val all = ManifestTable.livePaths(spark, dir, t, lo, hi).toSet
          assert(all == m.files.map(_.path).toSet,
            s"trial $trial: full-domain range on $t must scan every file")
        }
      }
      // a cursor-driven CDF consumer rides along: after every op it
      // drains the feed and folds into a materialized per-key rollup —
      // random sequences thus ALSO fuzz ChangeFeedStream + fold across
      // MoR-adding ranges and the netChanges maintenance fallback
      val cursorDir = freshDir()
      var view: Option[org.apache.spark.sql.DataFrame] = None
      def consume(): Unit = if (history.nonEmpty) {
        if (view.isEmpty) {
          graft.streaming.ChangeFeedStream.init(cursorDir, history.head._1)
          view = Some(ChangeFeedView.init(spark, dir, Seq("k"), curVal,
            asOf = Some(history.head._1)))
        }
        graft.streaming.ChangeFeedStream.poll(spark, dir, cursorDir, (feed, _, _) =>
          view = Some(graft.operators.Lineage.pin(
            ChangeFeedView.fold(view.get, feed, Seq("k"), curVal)))): Unit
      }
      // CoW operations COMPOSE with pending merge-on-read deletes (they
      // compute through the applied view and carry the tombstones), so
      // the sequences interleave freely — no forced materialize cadence
      ops.foreach { op => (op: @unchecked) match {
        case Commit(rows) if rows.nonEmpty =>
          val v = ManifestTable.commit(df(rows), dir, curTrack)
          model = model ++ rows.toVector
          history :+= (v, model)
        case Commit(_) => ()
        case Delete(lo, hi) if history.nonEmpty =>
          val v = ManifestTable.delete(spark, dir, $"k".between(lo, hi))
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
          history :+= (v, model)
        case Merge(rows) if history.nonEmpty && rows.nonEmpty =>
          val v = ManifestTable.merge(df(rows), dir, Seq("k"))
          model = model.filterNot { case (k, _) => rows.contains(k) } ++ rows.toVector
          history :+= (v, model)
        case Merge(_) => ()
        case Compact if history.nonEmpty =>
          val v = ManifestTable.compact(spark, dir, "k", numFiles = 2)
          history :+= (v, model)
        case Zorder if history.nonEmpty =>
          val v = ManifestTable.zorderCompact(spark, dir, Seq("k", curVal),
            bits = 10, numFiles = 2)
          history :+= (v, model)
        case MorDelete(keys) if history.nonEmpty =>
          val v = ManifestTable.deleteByKey(keys.toSeq.toDF("k"), dir, Seq("k"))
          model = model.filterNot { case (k, _) => keys(k) }
          history :+= (v, model)
        case PosDelete(lo, hi) if history.nonEmpty =>
          val v = ManifestTable.deleteWhere(spark, dir, $"k".between(lo, hi))
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
          history :+= (v, model)
        case Materialize if history.nonEmpty =>
          val v = ManifestTable.materializeDeletes(spark, dir)
          history :+= (v, model)
        case Rename if history.nonEmpty =>
          renameN += 1
          val to = s"v_$renameN" // retired names can never be reused
          val v = ManifestTable.renameColumn(dir, curVal, to)
          curVal = to
          history :+= (v, model)
        case BranchCycle(r1, r2) if history.nonEmpty && r1.nonEmpty && r2.nonEmpty =>
          branchN += 1; val b = s"wap$branchN"
          ManifestTable.createBranch(dir, b)
          ManifestTable.commitToBranch(df(r1), dir, b, curTrack)
          ManifestTable.commitToBranch(df(r2), dir, b, curTrack)
          // main is isolated while staged; the branch read (the audit
          // surface) is exactly model ++ staged
          assert(ManifestTable.snapshot(spark, dir).count() == model.size,
            s"trial $trial: staged branch commits must be invisible to main")
          val staged = ManifestTable.branchSnapshot(spark, dir, b)
            .as[(Long, Long)].collect().toVector
          assert(staged.sorted == (model ++ r1.toVector ++ r2.toVector).sorted,
            s"trial $trial: branch audit read diverged from the model")
          val head = ManifestTable.fastForward(dir, b)
          model = model ++ r1.toVector
          history :+= (head - 1, model)
          model = model ++ r2.toVector
          history :+= (head, model)
        case BranchPick(br, mr) if history.nonEmpty && br.nonEmpty && mr.nonEmpty =>
          branchN += 1; val b = s"pick$branchN"
          ManifestTable.createBranch(dir, b)
          ManifestTable.commitToBranch(df(br), dir, b, curTrack)
          val bv = ManifestTable.branches(dir)(b)
          // main diverges past the branch point...
          val v1 = ManifestTable.commit(df(mr), dir, curTrack)
          model = model ++ mr.toVector
          history :+= (v1, model)
          // ...so fast-forward must refuse, and cherry-pick replays it
          intercept[IllegalStateException](ManifestTable.fastForward(dir, b))
          val v2 = ManifestTable.cherryPick(dir, b, bv)
          model = model ++ br.toVector
          history :+= (v2, model)
          ManifestTable.dropBranch(dir, b): Unit
        case BranchPickRewrite(br, mr) if history.nonEmpty && br.nonEmpty && mr.nonEmpty =>
          branchN += 1; val b = s"rw$branchN"
          val m0 = model // main state at the fork
          ManifestTable.createBranch(dir, b)
          ManifestTable.commitToBranch(df(br), dir, b, curTrack)
          val appendV = ManifestTable.branches(dir)(b)
          // the branch CoW delete removes one appended key — the
          // rewrite touches every branch-visible file holding it
          val d = br.keys.min
          val delV = ManifestTable.deleteOnBranch(spark, dir, b, $"k" === d)
          assert(delV == appendV + 1, s"trial $trial: branch delete must commit")
          // main diverges past the fork
          val v1 = ManifestTable.commit(df(mr), dir, curTrack)
          model = model ++ mr.toVector
          history :+= (v1, model)
          intercept[IllegalStateException](ManifestTable.fastForward(dir, b))
          // replay in order: append first (files go live on main), then
          // the rewrite (swaps fork-time + appended files; mr's file,
          // committed after the fork, is untouched — k == d rows from
          // mr SURVIVE, exactly like a rebased rewrite should behave)
          val v2 = ManifestTable.cherryPick(dir, b, appendV)
          model = model ++ br.toVector
          history :+= (v2, model)
          val v3 = ManifestTable.cherryPick(dir, b, delV)
          model = m0.filterNot(_._1 == d) ++ br.toVector.filterNot(_._1 == d) ++ mr.toVector
          history :+= (v3, model)
          ManifestTable.dropBranch(dir, b): Unit
        case AddTrack if history.nonEmpty && trackStage < 3 =>
          trackStage += 1
          val t = trackStage match {
            case 1 => curVal
            case 2 => "truncate(8,k)"
            // a transform whose SOURCE is the rename-prone value column:
            // a later Rename exercises hidden partitioning ACROSS the
            // source rename (the spec string re-renders, old files'
            // envelopes stay reachable through the key-alias chain)
            case _ => s"truncate(16,$curVal)"
          }
          val v = ManifestTable.addTrackedColumn(dir, t)
          history :+= (v, model)
        case MorUpdate(lo, hi, add) if history.nonEmpty =>
          val v = ManifestTable.updateMor(spark, dir,
            $"k".between(lo, hi),
            Map(curVal -> (col(curVal) + add).cast(if (widened) "bigint" else "int")),
            Seq("k"))
          model = model.map { case (k, x) => if (k >= lo && k <= hi) (k, x + add) else (k, x) }
          history :+= (v, model)
        case Widen if history.nonEmpty && !widened =>
          val v = ManifestTable.widenColumn(dir, curVal,
            org.apache.spark.sql.types.LongType)
          widened = true
          history :+= (v, model)
        case SqlInsert(rows) if history.nonEmpty && rows.nonEmpty =>
          df(rows).createOrReplaceTempView("fuzz_sql_src")
          val srcCols = ManifestTable.manifest(dir, None).track
            .map(graft.sources.TrackSpec.parse(_).source).distinct
          val zorderImpossible =
            expectedProps.get("write.distribution-mode").contains("zorder") &&
              srcCols.size < 2
          if (zorderImpossible) {
            val e = intercept[Exception](
              spark.sql("INSERT INTO fuzzcat.lake.t SELECT * FROM fuzz_sql_src"))
            assert(e.getMessage.contains("zorder"), s"trial $trial: ${e.getMessage}")
          } else {
            spark.sql("INSERT INTO fuzzcat.lake.t SELECT * FROM fuzz_sql_src")
            model = model ++ rows.toVector
            history :+= (ManifestTable.latestVersion(dir).get, model)
          }
        case MergeEvolve(rows) if history.nonEmpty && rows.nonEmpty =>
          evolveN += 1
          val extra = s"e_$evolveN" // retired each round, never reused
          if (!expectedProps.contains("write.schema.accept-additive")) {
            expectedProps += ("write.schema.accept-additive" -> "true")
            val pv = ManifestTable.setProperties(dir, expectedProps)
            history :+= (pv, model)
          }
          val src = rows.toSeq.map { case (k, x) => (k, x, k * 7 + evolveN) }
            .toDF("k", curVal, extra)
          (if (widened) src else src.withColumn(curVal, col(curVal).cast("int")))
            .createOrReplaceTempView("fuzz_mrg_src")
          spark.sql("MERGE WITH SCHEMA EVOLUTION INTO fuzzcat.lake.t t " +
            "USING fuzz_mrg_src s ON t.k = s.k " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
          // SQL MERGE updates EVERY matching row (dup-key groups keep
          // their multiplicity, all updated); unmatched source keys
          // insert once
          val keys = rows.keySet
          val existing = model.map(_._1).toSet
          model = model.map { case (k, x) => if (keys(k)) (k, rows(k)) else (k, x) } ++
            rows.toVector.filterNot { case (k, _) => existing(k) }
          history :+= (ManifestTable.latestVersion(dir).get, model)
          // audit the EVOLVED column before dropping it: touched rows
          // carry the source value, untouched rows read NULL (additive
          // evolution fills pre-existing files with NULL)
          val got = ManifestTable.snapshot(spark, dir)
            .selectExpr("k", s"$extra AS e").collect()
            .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
          got.foreach { case (k, e) =>
            val want = if (keys(k)) Some(k * 7 + evolveN) else None
            assert(e == want, s"trial $trial: evolved column $extra at k=$k: " +
              s"got $e want $want")
          }
          spark.sql(s"ALTER TABLE fuzzcat.lake.t DROP COLUMN $extra")
          history :+= (ManifestTable.latestVersion(dir).get, model)
        case DefaultCycle(r1, r2) if history.nonEmpty =>
          evolveN += 1
          val d = s"d_$evolveN" // retired on drop, never reused
          val init = 1000L + evolveN
          def latest = ManifestTable.latestVersion(dir).get
          def cnt(cond: String): Long = spark.sql(
            s"SELECT count(*) FROM fuzzcat.lake.t WHERE $cond").head().getLong(0)
          // SQL INSERT respects the write-layout property: zorder mode
          // with < 2 track sources refuses — same guard as SqlInsert
          val srcCols = ManifestTable.manifest(dir, None).track
            .map(graft.sources.TrackSpec.parse(_).source).distinct
          val insertable =
            !(expectedProps.get("write.distribution-mode").contains("zorder") &&
              srcCols.size < 2)
          spark.sql(s"ALTER TABLE fuzzcat.lake.t ADD COLUMN $d BIGINT DEFAULT $init")
          val addV = latest
          val nAtAdd = model.size
          history :+= (addV, model)
          // every pre-add row reads the INITIAL default through
          // whatever era mix precedes (renames, widen, MoR tombstones,
          // zorder layouts); the non-matching predicate audits the
          // known-constant pruning claim's CORRECTNESS over that mix
          assert(cnt(s"$d = $init") == nAtAdd,
            s"trial $trial: all $nAtAdd pre-add rows must read the initial default $init")
          assert(cnt(s"$d = -1") == 0L,
            s"trial $trial: excluded-default predicate must match nothing")
          assert(cnt(s"$d IS NULL") == 0L,
            s"trial $trial: a non-null initial default leaves no NULLs")
          // write-default era: omitted column fills the NEW default,
          // pre-add rows keep the immutable initial
          spark.sql(s"ALTER TABLE fuzzcat.lake.t ALTER COLUMN $d SET DEFAULT ${init * 2}")
          history :+= (latest, model)
          if (r1.nonEmpty && insertable) {
            df(r1).createOrReplaceTempView("fuzz_def_src")
            spark.sql(s"INSERT INTO fuzzcat.lake.t (k, $curVal) SELECT * FROM fuzz_def_src")
            model = model ++ r1.toVector
            history :+= (latest, model)
            assert(cnt(s"$d = ${init * 2}") == r1.size,
              s"trial $trial: omitted column must fill the CURRENT write default")
            assert(cnt(s"$d = $init") == nAtAdd,
              s"trial $trial: SET DEFAULT must not move pre-add rows' initial default")
          }
          // dropped default: omitted column is NULL from here on
          spark.sql(s"ALTER TABLE fuzzcat.lake.t ALTER COLUMN $d DROP DEFAULT")
          history :+= (latest, model)
          if (r2.nonEmpty && insertable) {
            df(r2).createOrReplaceTempView("fuzz_def_src2")
            spark.sql(s"INSERT INTO fuzzcat.lake.t (k, $curVal) SELECT * FROM fuzz_def_src2")
            model = model ++ r2.toVector
            history :+= (latest, model)
            assert(cnt(s"$d IS NULL") == r2.size,
              s"trial $trial: after DROP DEFAULT an omitted column is NULL")
          }
          // time travel: the add-era snapshot still reads the initial
          // default for every row it had
          assert(spark.sql(
            s"SELECT count(*) FROM fuzzcat.lake.t VERSION AS OF $addV WHERE $d = $init")
            .head().getLong(0) == nAtAdd,
            s"trial $trial: the add-era snapshot must read $init for all $nAtAdd rows")
          spark.sql(s"ALTER TABLE fuzzcat.lake.t DROP COLUMN $d")
          history :+= (latest, model)
        case ToggleMode if history.nonEmpty =>
          modeN += 1
          val mode = if (modeN % 2 == 1) "merge-on-read" else "copy-on-write"
          // the write-layout property cycles too: every commit kind
          // must CARRY it verbatim (only SQL writes act on it)
          val dist = Seq("none", "hash", "range", "zorder")(modeN % 4)
          expectedProps = expectedProps +
            ("write.delete.mode" -> mode) + ("fuzz.marker" -> s"m$modeN") +
            ("write.distribution-mode" -> dist)
          val v = ManifestTable.setProperties(dir, expectedProps)
          history :+= (v, model)
        case _ => ()
      }; consume(); auditPrune(); auditProps() }
      // every recorded version must read back as its model state —
      // snapshot isolation means later ops never disturb old versions
      history.foreach { case (v, want) =>
        // first two columns only: versions inside a MergeEvolve window
        // carry the (later-dropped) evolved column as a third
        val snap = ManifestTable.snapshot(spark, dir, asOf = Some(v))
        val got = snap.select(snap.columns.take(2).map(col).toIndexedSeq: _*)
          .as[(Long, Long)].collect().toVector
        assert(got.sorted == want.sorted,
          s"trial $trial v=$v: got ${got.size} rows, want ${want.size} (ops: $ops)")
      }
      // the riding consumer's folded rollup must equal the model's
      view.foreach { vdf =>
        val got = vdf.select($"k", $"n", $"total".cast("double"))
          .as[(Long, Long, Double)].collect().toSet
        val want = model.groupBy(_._1).map { case (k, rows) =>
          (k, rows.size.toLong, rows.map(_._2.toDouble).sum) }.toSet
        assert(got == want,
          s"trial $trial: consumer rollup diverged from the model (ops: $ops)")
      }
    }
  }
}
