package graft.streaming

import graft.sources.{ManifestTable, MemberIndex}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming sinks into a [[graft.sources.ManifestTable]] that
  * `writeStream.toTable` cannot express: indexed ingest, CDC upsert
  * and retraction. A plain append stream goes through the catalog
  * (`writeStream.toTable("graft.<ns>.<table>")`,
  * [[graft.sources.GraftStreamingWrite]]), which commits each epoch
  * the same way.
  *
  * Every micro-batch lands as one atomic manifest commit, so downstream
  * readers — interactive pruned scans included — always see a complete
  * snapshot, never a torn directory listing mid-write. Exactly-once
  * comes from the commit protocol itself, not the sink: the batch id is
  * carried as the manifest's `txn` marker, and a REPLAYED batch
  * (structured streaming re-fires only batches that never acked)
  * short-circuits inside [[ManifestTable.commit]] before staging any
  * data — zero duplicate rows AND zero orphan files, the same guarantee
  * class as [[SnapshotChain]] with commit arbitration done by atomic
  * manifest creation instead of version dirs.
  *
  * Each commit also collects per-file min/max of `track` over the NEW
  * batch only (map-side, no history re-scan), so file-skipping stats
  * stay fresh as data lands — the manifest-level sibling of
  * [[ZoneMapStream]]'s zone envelopes. Periodic
  * [[ManifestTable.compact]] folds the accumulated small batch files
  * into range-clustered ones transactionally.
  */
object ManifestStream {

  /** Ingest with a hot point-lookup index: each micro-batch commits
    * atomically AND advances the per-file membership index
    * ([[graft.sources.MemberIndex]]) for `indexCol` — the incremental
    * build fingerprints only the files this batch added (prior
    * fingerprints carry over untouched), so index maintenance costs
    * O(batch), never O(table), exactly the touched-bucket discipline of
    * the LSH/BM25/zone-map streaming maintainers.
    *
    * Crash windows are self-healing, not transactional: a crash between
    * commit and index build leaves version N unindexed; the NEXT batch's
    * build covers N's files too (it fingerprints everything the newest
    * prior index misses), and a replayed batch re-runs both steps
    * idempotently (txn-marked commit short-circuits; the index build is
    * deterministic create-if-absent). Readers that need a key lookup
    * before the index catches up fall back to the manifest's full file
    * list — the index is derived, never load-bearing for correctness.
    */
  def startIndexed(
      stream: DataFrame,
      dir: String,
      track: Seq[String],
      indexCol: String,
      checkpointDir: String,
      bits: Int = 1 << 18,
      probes: Int = 3,
      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        indexedBatch(batch.toDF(), batchId, dir, track, indexCol, bits, probes)
      }
      .start()

  /** One commit + index-advance step (public for replay/crash specs). */
  def indexedBatch(
      batch: DataFrame, batchId: Long, dir: String, track: Seq[String],
      indexCol: String, bits: Int, probes: Int): Unit = {
    ManifestTable.commit(batch, dir, track, txn = Some(s"stream-$batchId"))
    MemberIndex.build(batch.sparkSession, dir, indexCol, bits, probes): Unit
  }

  /** Streaming CDC apply: every micro-batch MERGEs into the table on
    * `keys` — matched rows replaced whole, new keys appended, only the
    * files holding matched keys rewritten ([[ManifestTable.merge]]'s
    * copy-on-write). The lake-table ending of the reference's verified
    * point-update pipeline (`sqs_verified_sensor_dag.py`'s keyed
    * applier): upstream dedupes each batch to one row per key (LWW by
    * sequence — [[graft.pipeline.VerifiedUpdates]]); this sink makes
    * the apply transactional, exactly-once under replay (batch-id txn
    * markers, same window as [[indexedBatch]]), and snapshot-isolated
    * for concurrent readers.
    */
  def startUpsert(
      stream: DataFrame,
      dir: String,
      keys: Seq[String],
      track: Seq[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
  ): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        upsertBatch(batch.toDF(), batchId, dir, keys, track)
      }
      .start()

  /** One idempotent upsert step. The FIRST batch bootstraps the table
    * (a merge needs a head snapshot to merge into); both paths carry
    * the same txn marker, so a crash between "committed" and "acked"
    * replays as a no-op regardless of which path ran.
    */
  def upsertBatch(
      batch: DataFrame, batchId: Long, dir: String, keys: Seq[String], track: Seq[String]): Unit =
    ManifestTable.latestVersion(dir) match {
      case None => ManifestTable.commit(batch, dir, track, txn = Some(s"upsert-$batchId")): Unit
      case Some(_) => ManifestTable.merge(batch, dir, keys, txn = Some(s"upsert-$batchId")): Unit
    }

  /** Streaming RETRACTION apply: each micro-batch of key tuples lands
    * as one merge-on-read delete commit ([[ManifestTable.deleteByKey]])
    * — O(batch keys) bytes written per batch, zero data files touched,
    * exactly-once under replay via the batch-id txn marker. The erasure
    * half of a CDC pipeline ([[startUpsert]] being the upsert half):
    * deletion requests stream in, readers see them immediately through
    * the sequence-scoped tombstone join, and the rewrite cost is paid
    * later, once, by a scheduled [[ManifestTable.materializeDeletes]] —
    * not per batch. Empty batches commit nothing.
    */
  def startDeletes(
      keyStream: DataFrame,
      dir: String,
      keys: Seq[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute"),
  ): StreamingQuery =
    keyStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        deleteBatch(batch.toDF(), batchId, dir, keys)
      }
      .start()

  /** One idempotent retraction step (public for replay/crash specs). */
  def deleteBatch(batch: DataFrame, batchId: Long, dir: String, keys: Seq[String]): Unit =
    if (!batch.isEmpty)
      ManifestTable.deleteByKey(batch, dir, keys, txn = Some(s"mordel-$batchId")): Unit
}
