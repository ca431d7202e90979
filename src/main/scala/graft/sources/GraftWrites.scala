package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The NATIVE DataSource V2 batch write for manifest tables — the
  * Iceberg commit shape, end to end: each executor task streams its
  * partition straight into an immutable parquet file under one staged
  * commit directory (no driver round-trip, no second shuffle), task
  * commit messages carry the file names back, and the DRIVER's
  * `commit()` turns the staged files into the next manifest version —
  * one control-plane stats pass over the NEW files only, then the
  * optimistic atomic-create install loop. At 100 TB the data plane is
  * embarrassingly parallel and the commit critical section is
  * O(changed files) metadata, which is the entire point of the
  * manifest design.
  *
  * Used by every SQL write against [[GraftCatalog]] tables:
  * INSERT INTO (append), INSERT OVERWRITE (replace), and the
  * group-based copy-on-write UPDATE / MERGE INTO rewrites
  * ([[GraftRowLevelOperation]]), whose `commit()` swaps exactly the
  * files the operation's scan planned against the staged replacements
  * — with the same concurrent-writer conflict checks as the API's
  * rewrite path ([[ManifestTable.installRewrite]]).
  *
  * Exactly-once at the task level: only COMMITTED tasks' messages
  * reach `commit()`; files from aborted or speculative attempts are
  * deleted by their writer's `abort()`, and `commit()` additionally
  * drops any stray staged file not named in a commit message before
  * collecting stats, so a leaked attempt can never double rows.
  */
object GraftWrites {

  /** What `commit()` does with the staged files. */
  sealed trait Mode
  /** INSERT INTO — append, inheriting parent deletes + track spec. */
  case object Append extends Mode
  /** INSERT OVERWRITE — atomic truncate-and-load via [[ManifestTable.replace]] semantics. */
  case object Replace extends Mode
  /** Copy-on-write row-level op: swap `removed()` (the files the
    * operation's scan planned) for the staged replacements. The thunk
    * defers to commit time because Spark builds the write before the
    * scan records its plan. `onBranch` (set while
    * `spark.graft.wap.branch` routed the statement's read onto that
    * branch) commits the swap as the branch's next shadow snapshot —
    * captured at plan time so a conf flip mid-statement cannot split
    * read and write.
    */
  final case class ReplaceFiles(
      base: ManifestTable.Manifest, removed: () => Set[String],
      onBranch: Option[String] = None)
    extends Mode

  /** Iceberg's `spark.wap.branch` parity knob: while set, plain SQL
    * appends (`INSERT INTO`, `writeStream.toTable`) land as SHADOW
    * snapshots on the named branch, plain reads serve the branch head,
    * and row-level DML (`DELETE FROM`/`UPDATE`/`MERGE INTO`) commits
    * as branch-scoped CoW rewrites — the whole write-audit-publish
    * lifecycle, row corrections included, runs in SQL with no
    * per-commit `CALL`s; `CALL graft.system.fast_forward` publishes.
    * The branch must already exist (a typo must not silently fork a
    * table). Whole-snapshot replacements (INSERT OVERWRITE, TRUNCATE,
    * Complete-mode streams) still refuse while routing is on: a branch
    * is a staged DELTA against its base, and replacing the snapshot
    * on a branch has no publishable meaning.
    */
  val WapBranchConf = "spark.graft.wap.branch"

  /** Persisted table property steering write layout — see
    * [[GraftWrite.requiredDistribution]]. Values: none | hash | range.
    */
  val DistributionModeProp = "write.distribution-mode"

  /** Advisory staged-file size for distribution-mode shuffles — see
    * [[GraftWrite.advisoryPartitionSizeInBytes]].
    */
  val TargetFileBytesProp = "write.target-file-bytes"

  /** Opt-in for SQL DML schema evolution — see
    * [[GraftLakeTable.capabilities]].
    */
  val AcceptAdditiveProp = "write.schema.accept-additive"

  def wapBranch(spark: SparkSession): Option[String] =
    Option(spark.conf.get(WapBranchConf, "")).map(_.trim).filter(_.nonEmpty)

  /** Hadoop conf an executor-side [[ParquetWriteSupport]] needs: the
    * session's hadoop conf plus the SQL settings Spark's own parquet
    * write path pins explicitly (`ParquetWriteSupport.init` asserts
    * they are present), captured from the DRIVER session so SQL writes
    * produce byte-compatible files with `df.write.parquet`.
    */
  def writeConf(spark: SparkSession, schema: StructType): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    val sql = spark.sessionState.conf
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, sql.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, sql.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, sql.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    ParquetWriteSupport.setSchema(schema, conf)
    conf
  }

  /** Minimal serializable Configuration carrier (Hadoop's own is not
    * Serializable; Spark's wrapper is `private[spark]`).
    */
  final class ConfCarrier(@transient var conf: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new Configuration(false)
      conf.readFields(in)
    }
  }
}

/** The Write a [[GraftCatalog]] table hands Spark for INSERT /
  * OVERWRITE — batch and streaming sides share the executor writer;
  * only the driver-side commit differs ([[GraftBatchWrite]] installs
  * once, [[GraftStreamingWrite]] installs per epoch under an
  * epoch-scoped txn marker).
  */
final class GraftWrite(
    spark: SparkSession, dir: String, schema: StructType, track: Seq[String],
    overwrite: Boolean, queryId: String,
    props: Map[String, String] = Map.empty)
  extends Write with GraftWriteLayout {
  override protected def layoutSchema: StructType = schema
  override protected def layoutTrack: Seq[String] = track
  override protected def layoutProps: Map[String, String] = props
  override def description(): String = s"graft-manifest write -> $dir"
  override def toBatch: BatchWrite = new GraftBatchWrite(
    spark, dir, schema, track,
    if (overwrite) GraftWrites.Replace else GraftWrites.Append)
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new GraftStreamingWrite(spark, dir, schema, track, overwrite, queryId)
}

/** The declared write layout (`write.distribution-mode` /
  * `write.target-file-bytes`) expressed as DSv2 required
  * distribution+ordering — shared by the regular table write
  * ([[GraftWrite]]) and the staged CTAS/RTAS write
  * ([[GraftStagedTable]]), so the INITIAL load (often the largest
  * write the table ever sees) lands clustered exactly like every
  * later INSERT INTO, instead of being a layout exemption.
  */
private[sources] trait GraftWriteLayout extends RequiresDistributionAndOrdering {
  protected def layoutSchema: StructType
  protected def layoutTrack: Seq[String]
  protected def layoutProps: Map[String, String]

  /** `write.distribution-mode` (Iceberg's table property, persisted in
    * the manifest): how incoming rows arrange BEFORE they hit the
    * executor writers — the lever that decides whether SQL-written
    * files carry tight, prunable envelopes or span the whole domain.
    *   - absent/`none`: rows land as the query left them (fastest
    *     write; envelope quality is the caller's problem);
    *   - `hash`: cluster by the track SOURCE columns — co-locates
    *     equal values so each file holds few distinct keys;
    *   - `range`: globally range-partition AND sort by the track
    *     sources — files carry disjoint envelopes, so every later
    *     range query prunes like the table had been compacted.
    * Clustering keys are the track SOURCES (not the transforms):
    * identity and monotone transforms (days/truncate) inherit the
    * tightness directly, and bucket envelopes serve equality lookups
    * regardless of layout — while requiring the transform itself would
    * drag in a FunctionCatalog registration for nothing. At 100 TB the
    * one extra shuffle at WRITE time is bought back by every read
    * skipping the files a scattered layout would force it to open.
    */
  private def distributionKeys: Array[String] =
    layoutTrack.map(t => TrackSpec.parse(t).source).distinct
      .filter(layoutSchema.fieldNames.contains).toArray

  private def sortOrders: Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    distributionKeys.map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
  }

  /** `zorder` mode: ONE sort key — the Morton value of the track
    * sources ([[ZOrderFunction]], resolved through the catalog's
    * FunctionCatalog) — range-partitions AND sorts every SQL write, so
    * each staged file's n-dimensional bounding box TILES the space
    * instead of spanning it: corner queries prune at ingest with no
    * separate `CALL graft.system.zorder` pass. Non-integral sources
    * z-order through the function's monotone per-type surrogates
    * (timestamps at minute grain, dates as epoch days, strings by
    * binary prefix, float/double by IEEE total order — see
    * [[ZOrderFunction]]), so a `(ts, region)` table clusters at ingest
    * without pre-transforming. Refuses loudly (not a silent range
    * fallback) when the declared layout cannot z-order — fewer than
    * two source columns, or a type with no monotone surrogate.
    */
  private def zorderOrders: Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val ks = distributionKeys
    require(ks.length >= 2,
      s"${GraftWrites.DistributionModeProp}=zorder needs >= 2 tracked source " +
        s"columns, got [${ks.mkString(", ")}]")
    ks.foreach(c => require(ZOrderFunction.supported(layoutSchema(c).dataType),
      s"${GraftWrites.DistributionModeProp}=zorder: column $c is " +
        s"${layoutSchema(c).dataType.catalogString}; no monotone integral " +
        "surrogate exists for this type (supported: integral, date, " +
        "timestamp, string, float/double) — derive one in the schema and track that"))
    Array(Expressions.sort(
      Expressions.apply("zorder", ks.map(Expressions.column).toIndexedSeq: _*),
      SortDirection.ASCENDING))
  }

  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution = {
    import org.apache.spark.sql.connector.distributions.Distributions
    layoutProps.get(GraftWrites.DistributionModeProp) match {
      case Some("range") if distributionKeys.nonEmpty => Distributions.ordered(sortOrders)
      case Some("zorder") => Distributions.ordered(zorderOrders)
      case Some("hash") if distributionKeys.nonEmpty =>
        Distributions.clustered(distributionKeys.map(
          org.apache.spark.sql.connector.expressions.Expressions.column(_)))
      case _ => Distributions.unspecified()
    }
  }

  /** `write.target-file-bytes` (Iceberg's write.target-file-size-bytes
    * role): the advisory size AQE aims each shuffle partition — hence
    * each staged file — at, when a distribution mode requires the
    * write-side shuffle. Absent → Spark's session advisory (64 MB)
    * governs; at 100 TB that default is right, while ingest jobs that
    * want smaller or larger files declare it ON THE TABLE instead of
    * tuning every writer's session.
    */
  override def advisoryPartitionSizeInBytes(): Long =
    layoutProps.get(GraftWrites.TargetFileBytesProp).map(_.toLong).getOrElse(0L)

  /** Both clustered modes also sort WITHIN each writer task: each
    * staged file is then internally ordered and its envelope is as
    * tight as its partition's slice — free for `range` (the global
    * sort implies it) and the whole envelope win for `hash`.
    */
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    layoutProps.get(GraftWrites.DistributionModeProp) match {
      case Some("range") | Some("hash") => sortOrders
      case Some("zorder") => zorderOrders
      case _ => Array.empty
    }
}

/** `df.writeStream.toTable("graft.lake.t")`: each micro-batch epoch
  * stages its files like a batch write and commits them as one
  * manifest version whose `txn` marker is `stream-<queryId>-<epoch>` —
  * the streaming append path, with the same txn-marked exactly-once
  * commit ([[ManifestTable.commit]]) as the indexed/upsert/delete
  * foreachBatch sinks: a replayed epoch finds its txn already
  * committed in a retained manifest and skips the install entirely,
  * so crash-replay can never double rows. Complete/truncate
  * output mode replaces the snapshot per epoch instead of appending.
  */
final class GraftStreamingWrite(
    spark: SparkSession, dir: String, schema: StructType, track: Seq[String],
    replaceEach: Boolean, queryId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val stageRoot = s"$dir/data/c-stream-${java.util.UUID.randomUUID()}"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(stageRoot,
      new GraftWrites.ConfCarrier(GraftWrites.writeConf(spark, schema)))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val txn = s"stream-$queryId-$epochId"
    val stage = s"$stageRoot/e$epochId"
    val wap = GraftWrites.wapBranch(spark)
    // replay check spans BOTH sides: an epoch staged on a branch may
    // since have been published (its txn marker now lives on main)
    val replayed = ManifestTable.committedTxn(dir, txn).isDefined ||
      wap.exists(b => ManifestTable.committedTxnOnBranch(dir, b, txn).isDefined)
    if (replayed) {
      // replayed epoch: the data is already visible under this txn —
      // drop the fresh duplicate staging and ack
      Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty).foreach(_.delete())
      new java.io.File(stage).delete()
      return
    }
    val committed = messages.collect { case GraftCommitMessage(p) if p != null => p }.toSet
    new java.io.File(stage).mkdirs()
    Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
      .filterNot(f => committed(f.getAbsolutePath))
      .foreach(_.delete())
    wap match {
      case Some(b) =>
        require(!replaceEach,
          s"Complete/truncate output mode cannot route onto WAP branch '$b' " +
            s"(branch commits are appends); unset ${GraftWrites.WapBranchConf}")
        ManifestTable.installStagedToBranch(
          spark, dir, b, schema, track, stage, Some(txn)): Unit
      case None =>
        ManifestTable.installStaged(
          spark, dir, schema, track, Some(txn), stage, replace = replaceEach): Unit
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val stage = s"$stageRoot/e$epochId"
    Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty).foreach(_.delete())
    new java.io.File(stage).delete(): Unit
  }
}

final class GraftStreamingWriterFactory(
    stageRoot: String, conf: GraftWrites.ConfCarrier)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new GraftDataWriter(s"$stageRoot/e$epochId/part-$partitionId-$taskId.parquet", conf.conf)
}

/** One batch write = one staged commit dir; see [[GraftWrites]]. */
final class GraftBatchWrite(
    spark: SparkSession, dir: String, schema: StructType, track: Seq[String],
    mode: GraftWrites.Mode)
  extends Write with BatchWrite {

  private val stage = s"$dir/data/c-${java.util.UUID.randomUUID()}"
  new java.io.File(stage).mkdirs()

  override def toBatch: BatchWrite = this
  override def description(): String = s"graft-manifest $mode -> $dir"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(stage, schema.json,
      new GraftWrites.ConfCarrier(GraftWrites.writeConf(spark, schema)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.collect { case GraftCommitMessage(p) if p != null => p }.toSet
    // drop stray files from attempts that never task-committed
    Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
      .filterNot(f => committed(f.getAbsolutePath))
      .foreach(_.delete())
    mode match {
      case GraftWrites.Append =>
        GraftWrites.wapBranch(spark) match {
          case Some(b) =>
            ManifestTable.installStagedToBranch(spark, dir, b, schema, track, stage): Unit
          case None =>
            ManifestTable.installStaged(spark, dir, schema, track, None, stage, replace = false): Unit
        }
      case GraftWrites.Replace =>
        require(GraftWrites.wapBranch(spark).isEmpty,
          s"INSERT OVERWRITE cannot route onto WAP branch " +
            s"'${GraftWrites.wapBranch(spark).get}' (branch commits are appends); " +
            s"publish or unset ${GraftWrites.WapBranchConf} first")
        ManifestTable.installStaged(spark, dir, schema, track, None, stage, replace = true): Unit
      case GraftWrites.ReplaceFiles(base, removed, Some(b)) =>
        // the statement's read resolved on branch `b` (wap.branch
        // routing, captured at plan time): the swap is the branch's
        // next shadow snapshot — main stays isolated until publish
        ManifestTable.installStagedRewriteOnBranch(
          spark, stage, schema, dir, b, base, removed()): Unit
      case GraftWrites.ReplaceFiles(base, removed, None) =>
        require(GraftWrites.wapBranch(spark).isEmpty,
          s"row-level SQL rewrites planned OFF-branch cannot commit while " +
            s"${GraftWrites.WapBranchConf} routes onto " +
            s"'${GraftWrites.wapBranch(spark).get}' (the rewrite read main); " +
            s"re-run the statement under the routing, or unset it")
        ManifestTable.installStagedRewrite(spark, stage, schema, dir, base, removed(), None): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty).foreach(_.delete())
    new java.io.File(stage).delete(): Unit
  }
}

final case class GraftCommitMessage(path: String) extends WriterCommitMessage

/** MERGE-ON-READ row-level DELTA write (SQL UPDATE / MERGE INTO under
  * `write.update.mode` / `write.merge.mode` = merge-on-read, planned by
  * Spark's delta-based rewrites via [[GraftDeltaOperation]]): executor
  * tasks stream the delta's two halves into separate staged parquet
  * sets — equality-tombstone KEY rows (the touched rows' identifier
  * values) and full INSERT rows (the new row versions; updates arrive
  * split as delete+insert) — and the driver commits both in ONE atomic
  * manifest version ([[ManifestTable.installStagedDelta]]): tombstones
  * at seq v kill every earlier file's matching rows, the new files
  * enter at seq v and are never shadowed. NOTHING rewrites — a
  * selective 100 TB upsert costs O(Δ) bytes where the copy-on-write
  * route rewrites every touched file.
  */
final class GraftDeltaWrite(
    spark: SparkSession, dir: String, base: ManifestTable.Manifest,
    rowSchema: StructType, keys: Seq[String])
  extends DeltaWrite with DeltaBatchWrite {

  private val stage = s"$dir/data/c-delta-${java.util.UUID.randomUUID()}"
  private val dataStage = s"$stage/rows"
  private val keysStage = s"$stage/keys"
  new java.io.File(dataStage).mkdirs()
  new java.io.File(keysStage).mkdirs()

  private def keySchema: StructType = {
    val table = org.apache.spark.sql.types.DataType.fromJson(base.schemaJson)
      .asInstanceOf[StructType]
    StructType(keys.map(k => table(k)))
  }

  override def description(): String = s"graft-manifest MoR delta -> $dir"
  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(dataStage, keysStage,
      new GraftWrites.ConfCarrier(GraftWrites.writeConf(spark, rowSchema)),
      new GraftWrites.ConfCarrier(GraftWrites.writeConf(spark, keySchema)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // parity with GraftBatchWrite: the routing knob is re-read at
    // COMMIT time — a wap.branch set after this statement's analysis
    // must not let a MAIN delta slip past the staged-audit discipline
    require(GraftWrites.wapBranch(spark).isEmpty,
      s"merge-on-read delta cannot commit while ${GraftWrites.WapBranchConf} routes " +
        s"onto '${GraftWrites.wapBranch(spark).getOrElse("")}' (branches stage " +
        "copy-on-write deltas only); unset the branch or use copy-on-write mode")
    val committed = messages.collect {
      case GraftDeltaCommitMessage(d, k) => Seq(Option(d), Option(k)).flatten
    }.flatten.toSet
    // exactly-once at the task level: drop files from attempts that
    // never task-committed (same discipline as GraftBatchWrite)
    Seq(dataStage, keysStage).foreach { s =>
      Option(new java.io.File(s).listFiles()).getOrElse(Array.empty)
        .filterNot(f => committed(f.getAbsolutePath))
        .foreach(_.delete())
    }
    ManifestTable.installStagedDelta(
      spark, dir, base, rowSchema, keys, dataStage, keysStage): Unit
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    Seq(dataStage, keysStage, stage).foreach { s =>
      Option(new java.io.File(s).listFiles()).getOrElse(Array.empty).foreach(_.delete())
      new java.io.File(s).delete(): Unit
    }
  }
}

final case class GraftDeltaCommitMessage(dataPath: String, keysPath: String)
  extends WriterCommitMessage

final class GraftDeltaWriterFactory(
    dataStage: String, keysStage: String,
    rowConf: GraftWrites.ConfCarrier, keyConf: GraftWrites.ConfCarrier)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaDataWriter(
      s"$dataStage/part-$partitionId-$taskId.parquet",
      s"$keysStage/part-$partitionId-$taskId.parquet",
      rowConf.conf, keyConf.conf)
}

/** Streams one task's delta: deletes' identifier rows into the keys
  * file, inserts into the rows file (both opened lazily, so a task
  * with only one kind stages only that file). `update` never fires —
  * [[GraftDeltaOperation.representUpdateAsDeleteAndInsert]] makes
  * Spark split updates before they reach the writer.
  */
final class GraftDeltaDataWriter(
    dataPath: String, keysPath: String, rowConf: Configuration, keyConf: Configuration)
  extends DeltaWriter[InternalRow] {

  private val rows = new GraftDataWriter(dataPath, rowConf)
  private val keys = new GraftDataWriter(keysPath, keyConf)

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    require(!id.anyNull,
      "merge-on-read delta: a touched row carries NULL in an identifier column " +
        "(identifier.columns must be non-null row identifiers — the Iceberg " +
        "identifier-field contract); fall back to copy-on-write for this table")
    keys.write(id.copy())
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete+insert; update() must never be called")

  override def insert(row: InternalRow): Unit = rows.write(row)

  override def commit(): WriterCommitMessage = {
    val d = rows.commit() match { case GraftCommitMessage(p) => p }
    val k = keys.commit() match { case GraftCommitMessage(p) => p }
    GraftDeltaCommitMessage(d, k)
  }

  override def abort(): Unit = { rows.abort(); keys.abort() }
  override def close(): Unit = { rows.close(); keys.close() }
}

final class GraftWriterFactory(
    stage: String, schemaJson: String, conf: GraftWrites.ConfCarrier)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(s"$stage/part-$partitionId-$taskId.parquet", conf.conf)
}

/** Streams InternalRows into one parquet file. The file is opened
  * LAZILY on the first row, so empty partitions (32 shuffle partitions
  * feeding a 3-row insert) produce no file at all — the same behavior
  * as Spark's own file writer, and what keeps a small SQL insert from
  * littering the table with empty part files.
  */
final class GraftDataWriter(path: String, conf: Configuration)
  extends DataWriter[InternalRow] {

  private final class B(p: Path) extends ParquetWriter.Builder[InternalRow, B](p) {
    override def self(): B = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  private var writer: ParquetWriter[InternalRow] = null

  override def write(record: InternalRow): Unit = {
    if (writer == null)
      writer = new B(new Path(path)).withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    writer.write(record)
  }

  override def commit(): WriterCommitMessage =
    if (writer == null) GraftCommitMessage(null)
    else { writer.close(); GraftCommitMessage(path) }

  override def abort(): Unit = {
    if (writer != null) writer.close()
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path)): Unit
  }

  override def close(): Unit = ()
}
