package graft

import graft.sources.{ManifestTable, MemberIndex}
import org.apache.spark.sql.functions._

/** The per-file membership index: no-false-negative superset contract,
  * actual file skipping on a layout where min/max envelopes are
  * useless, O(changed-files) incremental maintenance, and exactness of
  * the indexed lookup vs the plain filter.
  */
class MemberIndexSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir() = tmpDir("memberix").toString

  /** keys shuffled across 8 date-clustered files: key k lands in file
    * hash-ish (k * 37 % 8) — every file's key envelope spans the whole
    * domain, the envelope path's worst case.
    */
  private def scatteredTable(dir: String, n: Int): Unit = {
    val df = (0 until n).map { k =>
      (k.toLong, (k * 37) % 8, s"payload-$k")
    }.toDF("key", "bucket", "payload")
    ManifestTable.commit(df.repartitionByRange(8, $"bucket"), dir, track = Seq("bucket")): Unit
  }

  test("superset contract: every file truly containing a key is a candidate; lookup == plain filter") {
    val dir = freshDir()
    scatteredTable(dir, 800)
    MemberIndex.build(spark, dir, "key", bits = 1 << 14, probes = 3)
    val byFile = ManifestTable.snapshot(spark, dir)
      .select(input_file_name().as("path"), $"key")
      .as[(String, Long)].collect()
      .groupBy(_._2).map { case (k, rs) => k -> rs.map(_._1).toSet }
    val all = ManifestTable.manifest(dir, None).files.map(_.path).toSet
    (0L until 800L by 53L).foreach { k =>
      val cand = MemberIndex.candidatePaths(spark, dir, "key", Seq(k)).toSet
      val truly = byFile(k).map(p => if (p.startsWith("file:")) new java.net.URI(p).getPath else p)
      assert(truly.subsetOf(cand), s"key $k: file holding it missing from candidates")
      assert(cand.subsetOf(all))
    }
    // the point of the index: a single key opens FEWER files than the
    // table has (with 16Ki bits per ~100-key file, fp ~ 0)
    assert(MemberIndex.candidatePaths(spark, dir, "key", Seq(123L)).size < all.size)
    // exactness end to end
    val got = MemberIndex.lookup(spark, dir, "key", Seq(5L, 123L, 777L))
      .orderBy("key").collect().toSeq
    val want = ManifestTable.snapshot(spark, dir)
      .filter($"key".isin(5L, 123L, 777L)).orderBy("key").collect().toSeq
    assert(got == want)
    // a key that exists nowhere matches no file at this sizing
    assert(MemberIndex.lookup(spark, dir, "key", Seq(10L * 1000 * 1000)).count() == 0)
  }

  test("incremental maintenance: an append re-fingerprints only the new files") {
    val dir = freshDir()
    scatteredTable(dir, 400)
    MemberIndex.build(spark, dir, "key", bits = 1 << 14, probes = 3)
    val ix1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_index", "member-key", "ix-000000000001.json")), "UTF-8")
    // append two new files
    val extra = Seq((9001L, 0, "x"), (9002L, 7, "y")).toDF("key", "bucket", "payload")
    ManifestTable.commit(extra.repartitionByRange(2, $"key"), dir, track = Seq("bucket"))
    MemberIndex.build(spark, dir, "key", bits = 1 << 14, probes = 3)
    val v1 = parseFiles(ix1)
    val v2 = parseFiles(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_index", "member-key", "ix-000000000002.json")), "UTF-8"))
    // every v1 fingerprint carried over bit-for-bit (not recomputed
    // against different data), plus exactly the new files
    v1.foreach { case (p, hex) => assert(v2(p) == hex, s"carried fingerprint changed for $p") }
    assert(v2.size == ManifestTable.manifest(dir, None).files.size)
    assert(v2.size > v1.size)
    // the new keys are findable; old lookups unchanged
    assert(MemberIndex.lookup(spark, dir, "key", Seq(9001L, 9002L)).count() == 2)
    assert(MemberIndex.lookup(spark, dir, "key", Seq(13L)).count() == 1)
    // time travel: the v1 index still serves the v1 snapshot
    assert(MemberIndex.lookup(spark, dir, "key", Seq(9001L), asOf = Some(1L)).count() == 0)
  }

  test("streaming indexed ingest: per-batch commit + O(batch) index advance, replay idempotent, crash window self-heals") {
    import graft.streaming.ManifestStream
    val dir = freshDir()
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(k => (k, s"p$k")).toDF("key", "payload")
    // two indexed batches
    ManifestStream.indexedBatch(batch(1, 50), 0L, dir, Seq("key"), "key", 1 << 14, 3)
    ManifestStream.indexedBatch(batch(51, 90), 1L, dir, Seq("key"), "key", 1 << 14, 3)
    assert(MemberIndex.lookup(spark, dir, "key", Seq(7L, 77L)).count() == 2)
    // replay of the newest batch: commit short-circuits on the txn
    // marker, the index build is a create-if-absent no-op
    val head = ManifestTable.latestVersion(dir).get
    ManifestStream.indexedBatch(batch(51, 90), 1L, dir, Seq("key"), "key", 1 << 14, 3)
    assert(ManifestTable.latestVersion(dir).contains(head))
    assert(MemberIndex.lookup(spark, dir, "key", Seq(77L)).count() == 1)
    // crash window: a commit lands WITHOUT its index step (plain
    // txn-marked commit) — the next indexed batch's build covers it too
    ManifestTable.commit(batch(91, 95), dir, Seq("key"), txn = Some("stream-2"))
    ManifestStream.indexedBatch(batch(96, 99), 3L, dir, Seq("key"), "key", 1 << 14, 3)
    assert(MemberIndex.lookup(spark, dir, "key", Seq(93L, 97L)).count() == 2)
    // the indexed lookup equals the plain filter over the head snapshot
    val want = ManifestTable.snapshot(spark, dir)
      .filter($"key".isin(7L, 77L, 93L, 97L)).orderBy("key").collect().toSeq
    assert(MemberIndex.lookup(spark, dir, "key", Seq(7L, 77L, 93L, 97L))
      .orderBy("key").collect().toSeq == want)
  }

  test("guards: unbuilt index and unknown column fail loudly; null keys rejected") {
    val dir = freshDir()
    scatteredTable(dir, 50)
    val e1 = intercept[IllegalStateException] {
      MemberIndex.candidatePaths(spark, dir, "key", Seq(1L))
    }
    assert(e1.getMessage.contains("no member index"))
    val e2 = intercept[IllegalArgumentException] {
      MemberIndex.build(spark, dir, "nope")
    }
    assert(e2.getMessage.contains("not in the committed schema"))
    val e3 = intercept[IllegalArgumentException] {
      MemberIndex.build(spark, dir, "key", bits = 16)
    }
    assert(e3.getMessage.contains("bits >= 64"))
  }

  test("NDV estimate: a corrupt (non-hex) fingerprint declines instead of inflating") {
    val good = MemberIndex.Index(1L, "k", bits = 1024, probes = 3,
      files = Map("f1" -> "00ff00ff", "f2" -> "0f0f0f0f"))
    val est = MemberIndex.estimatedDistinct(good, Seq("f1", "f2"))
    assert(est.exists(_ > 0), s"healthy fingerprints must estimate: $est")
    // Character.digit('z', 16) == -1; Integer.bitCount(-1) == 32 would
    // silently add 32 phantom set bits per bad char and feed a garbage
    // NDV to the CBO — a corrupt sidecar must refuse like saturation
    val corrupt = good.copy(files = good.files + ("f2" -> "zz0f0f0f"))
    assert(MemberIndex.estimatedDistinct(corrupt, Seq("f1", "f2")).isEmpty,
      "a non-hex fingerprint char must decline the estimate")
    // an uncovered path still declines (partial sums understate)
    assert(MemberIndex.estimatedDistinct(good, Seq("f1", "f3")).isEmpty)
  }

  private def parseFiles(s: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    (JsonMethods.parse(s) \ "files").extract[Map[String, String]]
  }
}
