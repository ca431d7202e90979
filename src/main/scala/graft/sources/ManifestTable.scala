package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A transactional manifest-tracked parquet table — the storage-layer
  * commit protocol a 100 TB ingest needs, in the shape Iceberg/Delta
  * standardized (snapshot isolation over immutable files + planning-time
  * file skipping from manifest statistics), expressed with nothing but
  * parquet, atomic file creation, and tiny control-plane Spark jobs.
  *
  * Why a plain `write.parquet(dir)` is not enough at scale (the
  * reference's sync targets get this from Postgres transactions,
  * `/root/reference/postgresql_mysql_sync_dag.py:48-50` — a file-based
  * lake has to build it):
  *
  *  - **Atomic multi-file visibility.** A Spark write materializes
  *    hundreds of part files over minutes; a reader listing the
  *    directory mid-write sees a torn table. Here readers resolve the
  *    file LIST from a manifest, and a commit is one atomic
  *    create-if-absent of the next manifest version — a snapshot is
  *    either fully visible or not at all, and writers never block
  *    readers.
  *  - **Optimistic concurrent appends.** Two writers race for version
  *    N+1; the loser re-reads the new head and retries against it.
  *    Appends of disjoint files always converge (both land, nothing
  *    doubled) — the same loop Iceberg runs against its catalog.
  *  - **Planning-time file skipping.** Each manifest row carries
  *    per-file min/max of the tracked columns (collected once at commit
  *    time, the file-granular analogue of [[graft.operators.ZoneMap]]'s
  *    zone envelopes). A selective range scan consults O(files) rows of
  *    metadata and opens only overlapping files — no footer reads, no
  *    broadcast machinery, and the exact predicate still runs on the
  *    survivors, so the result is bit-identical to the plain filter.
  *  - **Time travel + safe vacuum.** Old manifests stay readable until
  *    [[expireSnapshots]] drops them; data files are deleted only once
  *    no retained manifest references them, and [[vacuum]] reclaims
  *    crashed commits' never-referenced staging only after a grace age.
  *
  * Layout under `dir/`:
  * {{{
  *   data/c-<uuid>/part-*.parquet   one immutable dir per commit attempt
  *   _manifests/m-<%012d v>.json    one small HEAD doc per version
  *   _manifests/seg-<uuid>.json     immutable file-list segments
  * }}}
  *
  * The file list uses MANIFEST-LIST INDIRECTION (Iceberg's
  * manifest-file split): the head stores segment NAMES plus the
  * delete/txn/schema metadata; each segment is an immutable JSON array
  * of file entries. A commit reuses every parent segment whose files
  * all survive and writes ONE new segment for the delta, so committing
  * against a million-file table writes O(changed files) manifest
  * bytes, not O(total); when live segments exceed [[MaxSegments]] they
  * fold into one (amortized O(1) per commit). Readers resolve a
  * snapshot from the head + segments, re-parsing only segments not in
  * the immutable-entry cache — a commit loop re-reads O(Δ). A manifest
  * is still logically self-contained (segments are never deltas
  * against other versions), so expiring old versions never rewrites
  * newer ones, and legacy inline-file-list heads read unchanged and
  * upgrade on their next commit.
  *
  * Stats round-trip through strings with SPARK casts on both sides
  * (`CAST(x AS STRING)` at collect, `CAST(lit(s) AS type)` at prune), so
  * timestamp/double/decimal envelopes compare with the engine's own
  * semantics, never a hand-rolled parser.
  */
object ManifestTable {

  /** One data file plus its commit-time statistics: `mins`/`maxs` hold
    * the string-cast min/max per tracked column; a `None` envelope means
    * the file has NO non-null value in that column (min/max ignore
    * nulls), so a range predicate can never match it. `seq` is the
    * version at which the file ENTERED the table (carried verbatim
    * across later manifests) — the sequence number that scopes
    * merge-on-read deletes: a delete committed at version d removes
    * key-matching rows only from files with `seq < d`, so re-inserting
    * a deleted key later is never shadowed by the old tombstone
    * (Iceberg's data-sequence-number rule).
    */
  final case class FileEntry(
      path: String,
      rows: Long,
      mins: Map[String, Option[String]],
      maxs: Map[String, Option[String]],
      seq: Long = 0L)

  /** One merge-on-read delete file. For EQUALITY deletes: `rows`
    * distinct key tuples (columns = the manifest's `deleteKeys`),
    * applying to data files with `seq` strictly below this entry's.
    * For POSITIONAL deletes (`posDeleteFiles`): `rows` (file-basename,
    * row-index) pairs naming exact physical rows — no seq scoping
    * needed, because a rewritten file gets a NEW basename and the old
    * tombstones can never re-apply (the Iceberg v2 path-scoping rule).
    */
  final case class DeleteEntry(path: String, rows: Long, seq: Long)

  /** One committed column rename. `v` is the rename commit's version:
    * data files with `seq < v` were written under `from`, files with
    * `seq >= v` under `to` — the file's own data sequence (its entry
    * version) decides which name its bytes carry, so readers group
    * files by rename era instead of needing Iceberg-style field IDs
    * in the parquet footers. Renamed-away names are RETIRED forever
    * (old files still physically hold them); re-adding one would
    * resurrect the old bytes under the new column, so
    * [[addColumns]]/[[renameColumn]] refuse retired names eagerly.
    */
  final case class RenameStep(v: Long, from: String, to: String)

  /** One committed SAFE TYPE WIDENING ([[widenColumn]]). `v` is the
    * widen commit's version: data files with `seq < v` physically hold
    * the narrow type (`fromJson`), files with `seq >= v` the widened
    * one — the parquet reader's widening promotions (Spark 4 reads
    * int32 under a long schema, float under double, narrow decimal
    * under wide) cast old files up at scan time, so unlike renames no
    * era-grouped read is needed; the step is kept for provenance and
    * for guards that must know a narrow era exists (member-index
    * build types, fuzz audits).
    */
  final case class RetypeStep(v: Long, column: String, fromJson: String)

  final case class Manifest(
      version: Long,
      parent: Option[Long],
      txn: Option[String],
      schemaJson: String,
      track: Seq[String],
      files: Seq[FileEntry],
      deleteKeys: Seq[String] = Nil,
      deleteFiles: Seq[DeleteEntry] = Nil,
      posDeleteFiles: Seq[DeleteEntry] = Nil,
      /** Wall-clock commit time in epoch micros, stamped at head
        * install (provenance for `TIMESTAMP AS OF`; never
        * result-bearing). None on legacy heads — resolution falls back
        * to the head file's mtime.
        */
      commitTsMicros: Option[Long] = None,
      /** Operation marker, stamped only by STATE-PRESERVING maintenance
        * rewrites ("materialize", "compact"): commits whose applied
        * view is bit-identical to their parent's. The Iceberg
        * snapshot-summary `operation` field's role here is to let
        * [[netChanges]] stitch a BOUNDED feed across tombstone-removing
        * maintenance boundaries instead of falling back to a
        * table-sized diff — sound exactly because the marked commit
        * changes no visible row. None on every data-changing commit
        * (and every legacy head).
        */
      op: Option[String] = None,
      /** Committed column renames, ascending by version (see
        * [[RenameStep]]). Empty for every table that never renamed.
        */
      renames: Seq[RenameStep] = Nil,
      /** Names no column may ever (re)use: renamed-away and dropped
        * column names, whose bytes old files still hold.
        */
      retired: Seq[String] = Nil,
      /** TRACK-SPEC EVOLUTION watermarks ([[addTrackedColumn]]): for a
        * column tracked since version v, files with seq < v carry NO
        * envelope for it — skipping must keep them (scan-always, the
        * Iceberg partition-spec-evolution contract) and metadata
        * aggregates must decline. Empty for columns tracked from
        * table creation (every file covered).
        */
      trackSince: Map[String, Long] = Map.empty,
      /** Persisted TABLE PROPERTIES (Iceberg's table-config role —
        * `TBLPROPERTIES` at CREATE, `ALTER TABLE SET/UNSET
        * TBLPROPERTIES` after): configuration the table CARRIES rather
        * than every session re-declaring, e.g.
        * `write.delete.mode = merge-on-read` routing plain SQL
        * `DELETE FROM` to positional tombstones instead of
        * copy-on-write rewrites. Rides the manifest, so properties are
        * snapshot-versioned: time travel (and [[restore]]) sees the
        * config as it was — an audit can answer "what mode wrote this
        * commit". Carried forward verbatim by every commit kind
        * (append, replace, rewrite, maintenance, branch).
        */
      props: Map[String, String] = Map.empty,
      /** Committed safe type widenings, ascending by version (see
        * [[RetypeStep]]). Empty for every table that never widened.
        */
      retypes: Seq[RetypeStep] = Nil) {
    /** Does file-seq `seq` carry an envelope for tracked column `col`? */
    def envelopeCovers(col: String, seq: Long): Boolean =
      trackSince.get(col).forall(_ <= seq)
    def hasMorDeletes: Boolean = deleteFiles.nonEmpty || posDeleteFiles.nonEmpty
    /** applied(this) == applied(parent): no visible row changed. */
    def statePreserving: Boolean = op.exists(StatePreservingOps)
    /** Does at least one LIVE file predate at least one rename (i.e.
      * a single fixed-schema scan would mis-read it)?
      */
    def renamesApply: Boolean =
      renames.nonEmpty && files.exists(f => renames.exists(_.v > f.seq))
  }

  private val StatePreservingOps = Set("materialize", "compact")

  // ---------------------------------------------------------------- commit

  /** Append `df` as a new snapshot version and return it. One staging
    * write + one stats pass over the NEW data only, then the optimistic
    * commit loop. `txn` makes a commit idempotent: if any retained
    * manifest already carries the id, the staged write is skipped and
    * the committed version returned — exactly-once for streaming
    * replays ([[GraftStreamingWrite]], [[graft.streaming.ManifestStream]]).
    */
  def commit(df: DataFrame, dir: String, track: Seq[String], txn: Option[String] = None): Long =
    commitFiles(df, dir, track, txn, replace = false)

  /** ALTER TABLE ADD COLUMN: additive schema evolution as a
    * METADATA-ONLY commit — the new manifest carries the extended
    * schema over the parent's exact file list (zero data I/O; readers
    * fill the new columns with NULL on pre-evolution files, which is
    * why only nullable adds are legal). Older snapshots keep their
    * committed schemas — time travel reads the world as it was.
    * Everything else (drops, renames, retypes) stays refused: those
    * are rewrites, not metadata ([[replace]]).
    */
  def addColumns(dir: String, fields: Seq[StructField]): Long = {
    require(fields.nonEmpty, "no columns to add")
    requireNoReservedColumns(StructType(fields))
    fields.foreach(f => require(f.nullable,
      s"new column ${f.name} must be nullable: pre-evolution files have no value for it"))
    var committed = -1L
    while (committed < 0) {
      val cur = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(cur.schemaJson)
      val clash = fields.map(_.name).filter(schema.fieldNames.contains)
      require(clash.isEmpty, s"column(s) ${clash.mkString(", ")} already exist")
      val ghost = fields.map(_.name).filter(cur.retired.contains)
      require(ghost.isEmpty,
        s"column name(s) ${ghost.mkString(", ")} are retired (renamed away or " +
          "dropped): old data files still physically hold bytes under them, and " +
          "re-adding the name would resurrect those bytes as the new column")
      val v = cur.version + 1
      // Stamp the commit version onto each added field (metadata key
      // [[AddedInKey]]): every file with seq < v is KNOWN not to hold
      // the column physically — it reads the INITIAL DEFAULT
      // (EXISTS_DEFAULT metadata, applied natively by Spark's parquet
      // readers; NULL when no DEFAULT clause) — which is what lets the
      // skipping machinery prune pre-add files as constant-valued
      // ([[defaultSince]]) instead of always scanning them. The stamp
      // rides the field like a comment: renames carry it, time travel
      // sees the era's own claims, drops retire it.
      val stamped = fields.map(f => f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(AddedInKey, v).build()))
      val m = cur.copy(version = v, parent = Some(cur.version), txn = None,
        schemaJson = StructType(schema.fields ++ stamped).json, op = None)
      committed = tryInstall(dir, m)
    }
    committed
  }

  /** Field-metadata key recording the manifest version an evolved
    * column was ADDED in ([[addColumns]]).
    */
  private[graft] val AddedInKey = "graft.added-in"

  /** ALTER COLUMN ... SET/DROP DEFAULT as a METADATA-ONLY commit: the
    * WRITE default (Spark's CURRENT_DEFAULT metadata key — what an
    * INSERT that omits the column fills in from now on) changes; the
    * INITIAL default (EXISTS_DEFAULT — what pre-add files read) is
    * immutable by design, exactly Iceberg v3's write-default vs
    * initial-default split: files already committed without the column
    * physically were promised the initial value at add time, and
    * moving that target retroactively would rewrite visible history
    * without touching a byte.
    */
  def updateColumnDefault(dir: String, column: String, newSql: Option[String]): Long = {
    var committed = -1L
    while (committed < 0) {
      val cur = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(cur.schemaJson)
      require(schema.fieldNames.contains(column), s"no such column: $column")
      val m = cur.copy(version = cur.version + 1, parent = Some(cur.version),
        txn = None, op = None,
        schemaJson = StructType(schema.fields.map { f =>
          if (f.name != column) f
          else {
            val mb = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            newSql match {
              case Some(sql) => mb.putString(CurrentDefaultKey, sql)
              case None => mb.remove(CurrentDefaultKey)
            }
            f.copy(metadata = mb.build())
          }
        }).json)
      committed = tryInstall(dir, m)
    }
    committed
  }

  private[graft] val CurrentDefaultKey =
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
  private[graft] val ExistsDefaultKey =
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY

  /** Field-metadata keys a write-side frame must NEVER inject into a
    * table it is appended to: they are OWNED by this table's own ALTER
    * history and are load-bearing for correctness, not annotation. A
    * frame read from ANOTHER graft table (whose column was ADD
    * COLUMN'd, or carries a DEFAULT) exposes [[AddedInKey]] /
    * [[ExistsDefaultKey]] through its schema, and attribute metadata
    * survives INSERT ... SELECT projection — so without stripping, an
    * ordinary append would inject a FOREIGN added-in version into the
    * target: target files with seq below it would then be claimed
    * known-constant (or all-null) by [[defaultSince]] and silently
    * pruned even though they physically hold real values. "comment" is
    * ALTER-TABLE-owned for the same reason (annotation, not claims,
    * but still this table's, not the source's). Inert keys (ML
    * attributes, source annotations) still ride along.
    */
  private val OwnedMetadataKeys =
    Seq(AddedInKey, CurrentDefaultKey, ExistsDefaultKey, "comment")

  /** Strip table-owned metadata keys ([[OwnedMetadataKeys]]) from every
    * field of an incoming write frame's schema — see the key list for
    * why letting them ride along is a silent-wrong-results bug.
    * `keepComment` is for CTAS/RTAS: the table is NEW, so there is no
    * target comment to clobber and inheriting the source's column docs
    * is the standard catalog behavior — only the CLAIM keys must go
    * (a foreign added-in above the CTAS's own commit version would
    * claim the staged files known-constant when they hold real values).
    */
  private[graft] def sanitizeIncoming(
      schema: StructType, keepComment: Boolean = false): StructType = {
    def strip(m: org.apache.spark.sql.types.Metadata) = {
      val mb = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(m)
      OwnedMetadataKeys.filterNot(keepComment && _ == "comment").foreach(mb.remove)
      mb.build()
    }
    StructType(schema.fields.map(f => f.copy(metadata = strip(f.metadata))))
  }

  /** Initial-default pruning claims from `m`'s committed schema:
    * current column name -> (version the column was added in, its
    * initial default as a STAT STRING — None for a NULL initial
    * default). A file with seq < added-in version is known-constant on
    * that column (it reads the initial default unconditionally), so
    * the skipping machinery may treat it as min = max = default —
    * or as all-null when the default is NULL. A default whose literal
    * fails to render declines the CLAIM (column omitted, file always
    * scanned) rather than risking an unsound all-null reading.
    */
  private[graft] def defaultSince(m: Manifest): Map[String, (Long, Option[String])] = {
    val schema = DataFrameSchema.fromJson(m.schemaJson)
    schema.fields.iterator.flatMap { f =>
      if (!f.metadata.contains(AddedInKey)) None
      else {
        val v = f.metadata.getLong(AddedInKey)
        if (!f.metadata.contains(ExistsDefaultKey)) Some(f.name -> (v, None))
        else scala.util.Try {
          f.name -> (v, Some(statStringOfLiteral(
            f.metadata.getString(ExistsDefaultKey), f.dataType)))
        }.toOption.filter(_._2._2.isDefined) // null/unparseable: no claim
      }
    }.toMap
  }

  /** Render a constant-foldable SQL literal as the stat-string form
    * the skipping machinery's castStat parses (timestamps as epoch
    * micros, strings raw, everything else through Spark's cast).
    */
  private def statStringOfLiteral(
      sqlText: String, dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types._
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sqlText)
    require(parsed.foldable, s"initial default is not a constant: $sqlText")
    val v = Cast(parsed, dt, tz).eval(null)
    require(v != null, s"initial default renders null: $sqlText")
    dt match {
      case TimestampType | TimestampNTZType => v.toString // epoch micros
      case _ => Cast(Literal(v, dt), StringType, tz).eval(null).toString
    }
  }

  /** TRACK-SPEC EVOLUTION as a METADATA-ONLY commit (Iceberg's
    * partition-spec evolution, in envelope terms): the column joins
    * the tracked set FOR FUTURE FILES — commits from here on collect
    * its min/max envelope and prune on it, while files already
    * committed carry no envelope for it and are simply ALWAYS SCANNED
    * for predicates on the new column (correct, never pruned — the
    * [[Manifest.trackSince]] watermark is what keeps the skipping
    * machinery from conflating "no envelope" with "all-null column",
    * which IS skippable). Metadata aggregates on the new column
    * decline until every live pre-evolution file is rewritten;
    * [[compact]] / [[maintain]] repay exactly that debt (rewritten
    * files collect the full evolved spec), after which pruning covers
    * the whole table. Zero data I/O at any table size.
    */
  def addTrackedColumn(dir: String, column: String): Long = {
    // accepts hidden-partitioning transform specs too ("days(ts)",
    // "bucket(16,id)", "truncate(4,name)") — normalized to the
    // canonical key; the trackSince watermark applies identically
    // (pre-evolution files carry no transformed envelope: always scan)
    val spec = TrackSpec.parse(column)
    var committed = -1L
    while (committed < 0) {
      val cur = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(cur.schemaJson)
      require(schema.fieldNames.contains(spec.source), s"no such column: ${spec.source}")
      TrackSpec.validate(spec, schema(spec.source).dataType)
      require(!cur.track.contains(spec.key), s"column ${spec.key} is already tracked")
      val v = cur.version + 1
      committed = tryInstall(dir, cur.copy(
        version = v, parent = Some(cur.version), txn = None, op = None,
        track = cur.track :+ spec.key,
        trackSince = cur.trackSince + (spec.key -> v)))
    }
    committed
  }

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit — zero data
    * I/O at any table size, where a naive lake rename is a full
    * rewrite. Old files keep their bytes under the old physical name;
    * the committed [[RenameStep]] chain tells readers which name each
    * file's bytes carry (its entry sequence vs the step's version), so
    * [[readData]] groups live files by rename ERA, reads each era under
    * its own names, and selects back to the committed schema — one
    * extra scan per era, never per file, and new files always scan
    * plain. The old name is retired forever ([[Manifest.retired]]):
    * re-adding it would resurrect the old bytes. Envelope stats keyed
    * under the old name keep pruning through the alias-aware lookup in
    * [[graft.plans.ManifestSkipping]].
    */
  def renameColumn(dir: String, from: String, to: String): Long = {
    require(from != to, s"rename $from -> $to is a no-op")
    requireNoReservedColumns(StructType(Seq(StructField(to, StringType))))
    var committed = -1L
    while (committed < 0) {
      val cur = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(cur.schemaJson)
      require(schema.fieldNames.contains(from), s"no such column: $from")
      require(!schema.fieldNames.contains(to), s"column $to already exists")
      require(!cur.retired.contains(to),
        s"column name $to is retired (renamed away or dropped); old files still " +
          "hold bytes under it — pick a fresh name")
      require(!(cur.hasMorDeletes && cur.deleteKeys.contains(from)),
        s"cannot rename delete-key column $from while merge-on-read tombstones are " +
          "pending (their key files are written under the old name); run " +
          "materializeDeletes first")
      val v = cur.version + 1
      // hidden-partitioning transform specs SURVIVE the rename: the
      // spec string re-renders over the new source name (days(ts) ->
      // days(event_ts)), and old files' envelopes — keyed by the spec
      // string their commit rendered — stay reachable through the
      // rename-alias chain ([[renameAliases]] extends key-wise)
      def inSpec(t: String): String = {
        val spec = TrackSpec.parse(t)
        if (spec.source != from) t else TrackSpec.withSource(spec, to).key
      }
      // identifier.columns follows the rename too (same contract as the
      // track specs — config names live columns, never stale ones)
      val renamedProps = cur.props.get("identifier.columns") match {
        case Some(spec) => cur.props + ("identifier.columns" ->
          spec.split(",").map(_.trim).filter(_.nonEmpty)
            .map(c => if (c == from) to else c).mkString(","))
        case None => cur.props
      }
      val m = cur.copy(version = v, parent = Some(cur.version), txn = None,
        schemaJson = StructType(schema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)).json,
        track = cur.track.map(inSpec),
        deleteKeys = cur.deleteKeys.map(k => if (k == from) to else k),
        op = None,
        renames = cur.renames :+ RenameStep(v, from, to),
        retired = cur.retired :+ from,
        trackSince = cur.trackSince.map { case (k, sv) => inSpec(k) -> sv },
        props = renamedProps,
        // retype provenance follows the live name (the step's era rule
        // keys on file seq, not the name, so re-keying is safe)
        retypes = cur.retypes.map(r =>
          if (r.column == from) r.copy(column = to) else r))
      committed = tryInstall(dir, m)
    }
    committed
  }

  /** ALTER TABLE ... ALTER COLUMN ... TYPE as a METADATA-ONLY commit,
    * for the SAFE widening set only (Iceberg's evolution matrix):
    * integral widening (byte/short/int up to long), float -> double,
    * and decimal(p,s) -> decimal(p',s) with p' > p. Zero data I/O:
    * old files keep their narrow physical bytes and Spark 4's parquet
    * widening promotions cast them up at scan time — both readers,
    * filters included. Anything lossy (narrowing, scale change,
    * cross-family) refuses loudly; use [[replace]] to restructure.
    *
    * Envelope stats: integral and decimal stat strings parse EXACTLY
    * under the widened type, so they carry verbatim. Float stats do
    * NOT — the shortest-round-trip rendering of a float parses to a
    * smaller double than the float widens to (stat "1.1" reads as
    * 1.1d, the stored value reads as 1.100000023841858d), so a range
    * probe in that gap would silently prune a live file. A float ->
    * double widen therefore re-renders that column's envelopes
    * through the exact float -> double value conversion IN THE SAME
    * COMMIT (O(files) metadata, like every commit).
    *
    * A column serving as a bucket(n, col) track source refuses: the
    * bucket envelope holds hash values of the NARROW type, and a
    * widened probe hashes differently — equality lookups would
    * silently prune live files. Monotone numeric transforms
    * (truncate) are value-stable across the widen and carry over.
    * Member-index fingerprints are invalidated by the index's own
    * recorded build type ([[MemberIndex]]), not here.
    */
  def widenColumn(dir: String, column: String, to: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    var committed = -1L
    while (committed < 0) {
      val cur = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(cur.schemaJson)
      require(schema.fieldNames.contains(column), s"no such column: $column")
      val from = schema(column).dataType
      require(safeWiden(from, to),
        s"ALTER COLUMN $column TYPE: ${from.catalogString} -> ${to.catalogString} is " +
          "not a safe metadata-only widening (allowed: integral widening, " +
          "float -> double, decimal precision widening at the same scale); " +
          "use replace to restructure")
      cur.track.map(TrackSpec.parse).foreach {
        case TrackSpec.Bucket(n, src) if src == column =>
          throw new IllegalArgumentException(
            s"cannot widen $column: it is the source of bucket($n, $column), whose " +
              "envelopes hold hash values of the narrow type; replace/re-cluster first")
        case _ => ()
      }
      val v = cur.version + 1
      val statKeys: Set[String] =
        (column +: renameAliases(cur).getOrElse(column, Nil)).toSet
      def fix(mp: Map[String, Option[String]]): Map[String, Option[String]] =
        mp.map { case (k, sv) =>
          k -> (if (statKeys(k))
            sv.map(s => java.lang.Float.parseFloat(s).toDouble.toString)
          else sv)
        }
      val files =
        if (from != FloatType) cur.files
        else cur.files.map(f => f.copy(mins = fix(f.mins), maxs = fix(f.maxs)))
      val m = cur.copy(version = v, parent = Some(cur.version), txn = None,
        schemaJson = StructType(schema.fields.map(f =>
          if (f.name == column) f.copy(dataType = to) else f)).json,
        files = files, op = None,
        retypes = cur.retypes :+ RetypeStep(v, column, from.json))
      // the float stat rewrite CHANGES entries for unchanged paths —
      // parent-segment reuse diffs by path membership and would keep
      // the stale narrow-stat segment, so that commit writes fresh
      committed = tryInstallAs(dir, m, manifestName(v),
        reuseParentSegs = from != FloatType)
    }
    committed
  }

  /** `incoming` with every column that safely widens to the table's
    * type replaced by the TABLE's type — the schema stats collection
    * reads staged files under ([[installStaged]]): the parquet reader
    * widens the narrow bytes, so min/max strings and bucket-transform
    * hashes land in the domain readers probe in.
    */
  private def upcastForStats(incoming: StructType, tableJson: String): StructType = {
    val byName = DataFrameSchema.fromJson(tableJson)
      .fields.map(f => f.name -> f.dataType).toMap
    StructType(incoming.fields.map { f =>
      byName.get(f.name) match {
        case Some(td) if td != f.dataType && safeWiden(f.dataType, td) =>
          f.copy(dataType = td)
        case _ => f
      }
    })
  }

  /** ALTER COLUMN refinements that are PURE METADATA — a comment, or
    * RELAXING NOT NULL to nullable — as one metadata-only commit.
    * Tightening to NOT NULL refuses by design: it is a data CLAIM over
    * every committed file (and over every pre-ADD-COLUMN file, which
    * reads the column as NULL unconditionally) — accepting it without
    * a validation scan would let count(col) silently rewrite to
    * count(*) over rows that are in fact null.
    */
  def updateColumnMeta(
      dir: String, column: String,
      comment: Option[String] = None, relaxNullable: Boolean = false): Long = {
    require(comment.isDefined || relaxNullable, "nothing to change")
    var committed = -1L
    while (committed < 0) {
      val cur = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(cur.schemaJson)
      require(schema.fieldNames.contains(column), s"no such column: $column")
      val m = cur.copy(version = cur.version + 1, parent = Some(cur.version),
        txn = None, op = None,
        schemaJson = StructType(schema.fields.map { f =>
          if (f.name != column) f
          else {
            val withC = comment.fold(f)(c => f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata).putString("comment", c).build()))
            if (relaxNullable) withC.copy(nullable = true) else withC
          }
        }).json)
      committed = tryInstall(dir, m)
    }
    committed
  }

  /** The metadata-only widening matrix — exact-value, order-preserving
    * conversions the parquet reader promotes natively.
    */
  private[graft] def safeWiden(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) => b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
  }

  /** ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the column
    * leaves the committed schema; old files' physical bytes are simply
    * never requested again (name-based projection). The dropped name
    * is retired — re-adding it would resurrect those bytes. Older
    * snapshots keep their schemas (time travel still sees the column).
    */
  def dropColumns(dir: String, names: Seq[String]): Long = {
    require(names.nonEmpty, "no columns to drop")
    var committed = -1L
    while (committed < 0) {
      val cur = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(cur.schemaJson)
      val missing = names.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty, s"no such column(s): ${missing.mkString(", ")}")
      require(schema.fields.length > names.size, "cannot drop every column")
      require(!(cur.hasMorDeletes && cur.deleteKeys.exists(names.contains)),
        s"cannot drop delete-key column(s) while merge-on-read tombstones are " +
          "pending; run materializeDeletes first")
      require(!cur.track.exists(t => TrackSpec.isTransform(t) &&
        names.contains(TrackSpec.parse(t).source)),
        "cannot drop the source column of a hidden-partitioning transform track " +
          "spec; evolve the skipping spec via replace/compact first")
      // a row-identity column can't just vanish: the merge-on-read DML
      // regime keys its tombstones on it — unset identifier.columns
      // (ALTER TABLE UNSET TBLPROPERTIES) before dropping
      require(!identifierColumns(cur).exists(names.contains),
        s"cannot drop identifier column(s) " +
          s"${identifierColumns(cur).filter(names.contains).mkString(", ")}; " +
          "UNSET TBLPROPERTIES('identifier.columns') first")
      val m = cur.copy(version = cur.version + 1, parent = Some(cur.version), txn = None,
        schemaJson = StructType(schema.fields.filterNot(f => names.contains(f.name))).json,
        track = cur.track.filterNot(names.contains),
        op = None,
        retired = cur.retired ++ names,
        trackSince = cur.trackSince -- names)
      committed = tryInstall(dir, m)
    }
    committed
  }

  /** CREATE TABLE (the catalog's DDL entry): install version 1 as an
    * EMPTY snapshot carrying the committed schema and track spec, so
    * `INSERT INTO` has a typed table to validate against before any
    * data lands. Creation rides the same atomic create-if-absent as
    * every commit — racing a concurrent first commit (or another
    * CREATE) loses loudly instead of overwriting it.
    */
  /** `write.delete.mode`: how plain SQL `DELETE FROM` commits —
    * `copy-on-write` (default; file-granular rewrite, reads stay clean)
    * or `merge-on-read` (positional tombstones via [[deleteWhere]] —
    * O(matching rows) bytes written, nothing rewritten, readers apply
    * with one anti join until [[materializeDeletes]]). The Iceberg
    * table-property contract: the TABLE declares its write regime once
    * instead of every writer choosing per statement.
    */
  val WriteDeleteModeProp = "write.delete.mode"
  private val DeleteModes = Set("copy-on-write", "merge-on-read")

  /** Keys the engine synthesizes on [[GraftLakeTable.properties]] —
    * persisting them would shadow live metadata with a stale copy.
    */
  private val ReservedProps = Set("provider", "location", "version")

  /** Eager vocabulary check, shared by CREATE / ALTER SET: unknown keys
    * are fine (users annotate tables), but a recognized key with a
    * value the engine would silently ignore must fail NOW, not at the
    * DELETE that reads it.
    */
  private[sources] def validateProps(props: Map[String, String]): Unit = {
    props.keys.foreach { k =>
      require(k.nonEmpty, "table property keys must be non-empty")
      require(!ReservedProps(k),
        s"table property '$k' is reserved (synthesized from live table metadata)")
    }
    props.get(WriteDeleteModeProp).foreach(v => require(DeleteModes(v),
      s"$WriteDeleteModeProp must be one of ${DeleteModes.mkString(", ")}: got '$v'"))
    Seq("write.update.mode", "write.merge.mode").foreach(k =>
      props.get(k).foreach(v => require(DeleteModes(v),
        s"$k must be one of ${DeleteModes.mkString(", ")}: got '$v'")))
    props.get("identifier.columns").foreach(v => require(
      v.split(",").exists(_.trim.nonEmpty),
      s"identifier.columns must name at least one column: got '$v'"))
    props.get(GraftWrites.DistributionModeProp).foreach(v => require(DistModes(v),
      s"${GraftWrites.DistributionModeProp} must be one of " +
        s"${DistModes.mkString(", ")}: got '$v'"))
    props.get(GraftWrites.TargetFileBytesProp).foreach(v => require(
      scala.util.Try(v.toLong).toOption.exists(_ > 0),
      s"${GraftWrites.TargetFileBytesProp} must be a positive byte count: got '$v'"))
    props.get(GraftWrites.AcceptAdditiveProp).foreach(v => require(
      v == "true" || v == "false",
      s"${GraftWrites.AcceptAdditiveProp} must be true or false: got '$v'"))
  }
  private val DistModes = Set("none", "hash", "range", "zorder")

  /** The `identifier.columns` row-identity spec (Iceberg's identifier
    * fields): comma-separated, empty when unset.
    */
  def identifierColumns(m: Manifest): Seq[String] =
    m.props.get("identifier.columns").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))

  /** ALTER TABLE SET TBLPROPERTIES — a METADATA-ONLY commit (zero data
    * I/O at any table size): the new head carries the parent's exact
    * file/tombstone state with the merged property map. Snapshot-
    * versioned like every other commit: VERSION AS OF an older head
    * reads the config that governed it.
    */
  def setProperties(dir: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "no properties to set")
    validateProps(props)
    // adopting identifier.columns promotes the named columns to
    // REQUIRED at the table surface (row-level deltas need non-null
    // row ids) — sound only if the existing rows honor it, so a
    // non-empty table pays ONE column-pruned applied-view scan here;
    // from then on Spark's output resolver enforces it per write
    props.get("identifier.columns").foreach { spec =>
      val ids = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val cur = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(cur.schemaJson)
      val missing = ids.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"identifier.columns name(s) ${missing.mkString(", ")} not in the table schema")
      if (cur.files.nonEmpty) {
        val spark = SparkSession.active
        val nNull = appliedSnapshot(spark, cur)
          .select(ids.map(col).toIndexedSeq: _*)
          .filter(ids.map(col(_).isNull).reduce(_ || _))
          .limit(1).count()
        require(nNull == 0,
          s"cannot adopt identifier.columns=[${ids.mkString(", ")}]: existing rows " +
            "carry NULL in an identifier column (identifier fields are required)")
      }
    }
    var committed = -1L
    while (committed < 0) {
      val cur = manifest(dir, None)
      if (props.forall { case (k, v) => cur.props.get(k).contains(v) }) return cur.version
      committed = tryInstall(dir, cur.copy(version = cur.version + 1,
        parent = Some(cur.version), txn = None, op = None,
        props = cur.props ++ props))
    }
    committed
  }

  /** ALTER TABLE UNSET TBLPROPERTIES — absent keys are a no-op (SQL
    * UNSET semantics), present ones drop in one metadata commit.
    */
  def unsetProperties(dir: String, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "no properties to unset")
    var committed = -1L
    while (committed < 0) {
      val cur = manifest(dir, None)
      if (!keys.exists(cur.props.contains)) return cur.version
      committed = tryInstall(dir, cur.copy(version = cur.version + 1,
        parent = Some(cur.version), txn = None, op = None,
        props = cur.props -- keys))
    }
    committed
  }

  /** The atomic install behind staged CTAS / RTAS
    * ([[GraftStagedTable.commitStagedChanges]]): definition (schema,
    * track spec, properties) and staged data files land as ONE
    * manifest version — v1 for a create (create-if-absent race-safe:
    * the loser gets TableAlreadyExists and its staged files never
    * become visible), head+1 for a replace (the old head stays
    * time-travelable; the NEW definition replaces the old config —
    * REPLACE TABLE redefines, unlike INSERT OVERWRITE which carries).
    */
  private[sources] def installStagedDefinition(
      spark: SparkSession, dir: String, rawSchema: StructType, track: Seq[String],
      props: Map[String, String], stage: String,
      allowCreate: Boolean, allowReplace: Boolean): Long = {
    // the CTAS/RTAS schema is the QUERY's output schema — a SELECT
    // from another graft table carries that table's claim metadata;
    // keepComment: inheriting source column docs on a NEW table is
    // fine, foreign added-in/default claims over seq-1 files are not
    val schema = sanitizeIncoming(rawSchema, keepComment = true)
    validateDefinition(schema, track)
    validateProps(props)
    val files =
      if (Option(new java.io.File(stage).listFiles()).exists(_.nonEmpty))
        collectStats(spark, stage, track, schema)
      else Nil
    var committed = -1L
    while (committed < 0) {
      val head = latestVersion(dir)
      head match {
        case None =>
          if (!allowCreate) throw new IllegalStateException(
            s"REPLACE TABLE: no table at $dir (dropped since staging?)")
          committed = tryInstall(dir,
            Manifest(1L, None, None, schema.json, track,
              files.map(_.copy(seq = 1L)), props = props))
          if (committed < 0 && !allowReplace) throw new IllegalStateException(
            s"manifest table already exists at $dir (lost the creation race); " +
              "staged CTAS files were not published")
        case Some(h) =>
          if (!allowReplace) throw new IllegalStateException(
            s"manifest table already exists at $dir")
          val v = h + 1
          committed = tryInstall(dir,
            Manifest(v, Some(h), None, schema.json, track,
              files.map(_.copy(seq = v)), props = props))
      }
    }
    committed
  }

  /** Schema/track validation shared by [[createEmpty]] and the staged
    * CTAS install.
    */
  private def validateDefinition(schema: StructType, track: Seq[String]): Unit = {
    val missing = track.map(TrackSpec.parse(_).source).filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"tracked column(s) ${missing.mkString(", ")} not in schema")
    track.foreach { t =>
      val spec = TrackSpec.parse(t)
      TrackSpec.validate(spec, schema(spec.source).dataType)
    }
    requireNoReservedColumns(schema)
  }

  def createEmpty(
      dir: String, schema: StructType, track: Seq[String],
      props: Map[String, String] = Map.empty): Long = {
    validateProps(props)
    // a track entry may be a hidden-partitioning TRANSFORM spec: its
    // SOURCE column must exist and suit the transform
    val missing = track.map(TrackSpec.parse(_).source).filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"tracked column(s) ${missing.mkString(", ")} not in schema")
    track.foreach { t =>
      val spec = TrackSpec.parse(t)
      TrackSpec.validate(spec, schema(spec.source).dataType)
    }
    requireNoReservedColumns(schema)
    new java.io.File(dir, "data").mkdirs()
    new java.io.File(dir, "_manifests").mkdirs()
    require(latestVersion(dir).isEmpty, s"manifest table already exists at $dir")
    val v = tryInstall(dir, Manifest(1L, None, None, schema.json, track, Seq.empty,
      props = props))
    if (v < 0) throw new IllegalStateException(
      s"manifest table already exists at $dir (lost the creation race)")
    v
  }

  /** Replace the table content with `df` in one atomic snapshot —
    * truncate-and-load, or transactional COMPACTION: readers on the old
    * head keep their complete snapshot, time travel still reaches it,
    * and the swap is the same single atomic manifest create as an
    * append (contrast the rename-window dance a bare directory swap
    * needs, [[graft.operators.Layout]]).
    */
  def replace(df: DataFrame, dir: String, track: Seq[String], txn: Option[String] = None): Long =
    commitFiles(df, dir, track, txn, replace = true)

  /** Rewrite the current snapshot into `numFiles` range-clustered files
    * on `clusterBy` (tight envelopes ⇒ maximal skipping). Commits
    * through the conflict-checked rewrite swap, NOT [[replace]]: a
    * compaction races ingest by design ("run beside ingest"), and a
    * replacing commit would silently erase any append that landed
    * between reading the head and installing the rewrite — here such
    * appends rebase (their files carry over untouched), and a
    * concurrent writer that removed a compacted file raises
    * `ConcurrentModificationException` instead of losing its work.
    */
  def compact(spark: SparkSession, dir: String, clusterBy: String, numFiles: Int): Long = {
    val head = manifest(dir, None)
    if (head.files.isEmpty) return head.version
    // the applied read folds pending merge-on-read tombstones into the
    // rewrite, so a full compaction doubles as materializeDeletes: every
    // file is rewritten post-tombstone, and the new manifest clears them
    val df = appliedRead(spark, head, head.files.map(_.path))
    installRewrite(df.repartitionByRange(numFiles, col(clusterBy)),
      dir, head, head.files.map(_.path).toSet, None, clearDeletes = true,
      // state-preserving: every file rewrites through the applied view,
      // so no visible row changes — the marker lets netChanges stitch a
      // bounded feed across this tombstone-clearing boundary
      op = Some("compact"))
  }

  /** Incremental binpack maintenance: fold only the files smaller than
    * `minRows` into `numFiles` range-clustered replacements, leaving
    * larger files untouched. Streaming ingest accumulates one small
    * file per micro-batch; a full [[compact]] rewrites the whole table
    * to fix that, which at 100 TB is exactly what you must not do —
    * this rewrites O(small-file rows) and commits through the same
    * conflict-checked swap as delete/merge, so it can run continuously
    * beside ingest (concurrent appends rebase).
    */
  def compactSmall(
      spark: SparkSession, dir: String, clusterBy: String,
      minRows: Long, numFiles: Int): Long = {
    val head = manifest(dir, None)
    val small = head.files.filter(_.rows < minRows).map(_.path)
    if (small.size <= 1) head.version // nothing to fold
    else {
      // applied read: folded files drop their tombstoned rows (fresh seq
      // outranks the tombstones); untouched files keep theirs, so the
      // pending deletes CARRY in the new manifest (default) and still
      // apply to them on read
      val df = appliedRead(spark, head, small)
      // state-preserving: the folded files rewrite through the applied
      // view and untouched files keep their carried tombstones, so no
      // visible row changes — the marker lets netChanges stitch a
      // bounded feed and a streaming read skip the rewrite, same as a
      // full compact
      installRewrite(df.repartitionByRange(numFiles, col(clusterBy)),
        dir, head, small.toSet, None, op = Some("compact"))
    }
  }

  /** Rewrite the current snapshot into `numFiles` files clustered by
    * the Z-ORDER (Morton) interleaving of TWO columns — Delta/Iceberg
    * `OPTIMIZE ZORDER BY (x, y)` as a transactional manifest rewrite:
    * [[graft.operators.Layout.zorder]] range-partitions + sorts on the
    * interleaved z-value, so each written file's (x, y) bounding box
    * tiles the plane instead of spanning it, and the commit-time
    * envelopes on BOTH columns turn selective (a reader filtering on
    * either dimension — or both — skips most files). Content-neutral
    * by construction (every file rewrites through the applied view;
    * pending tombstones fold and clear, like a full [[compact]]) and
    * op-marked state-preserving, so streaming readers skip it and the
    * change feed stitches across it. Conflict-checked swap: concurrent
    * appends rebase, a racing remover refuses.
    *
    * Layout only — correctness never depends on the z semantics, so
    * any integral columns work; the TIGHTEST tiling comes from
    * non-negative values within 2^bits (beyond-range values fold into
    * the top slice, still correct, coarser).
    */
  def zorderCompact(
      spark: SparkSession, dir: String, cols: Seq[String],
      bits: Int = 16, numFiles: Int = 8): Long = {
    val head = manifest(dir, None)
    if (head.files.isEmpty) return head.version
    val schema = DataFrameSchema.fromJson(head.schemaJson)
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"zorder: no such column $c (has: ${schema.fieldNames.mkString(", ")})"))
    val df = appliedRead(spark, head, head.files.map(_.path))
    installRewrite(
      graft.operators.Layout.zorderN(df, cols, bits, numFiles),
      dir, head, head.files.map(_.path).toSet, None, clearDeletes = true,
      op = Some("compact"))
  }

  /** Row-level change feed between two committed versions (Delta CDF /
    * Iceberg changelog): every row inserted and every row deleted going
    * `fromV` -> `toV`; an update surfaces as its delete+insert pair.
    *
    * File-granular by construction: rows in files PRESENT IN BOTH
    * manifests cannot have changed (files are immutable), so only the
    * added/removed file lists are read, and copy-on-write noise — a
    * merge rewrites a file, copying its untouched rows — cancels in the
    * multiset difference (`EXCEPT ALL` both ways). Work is bounded by
    * the touched files, never the table; at 100 TB a selective merge's
    * feed reads a handful of files. Both sides read with `toV`'s schema
    * (additive evolution fills pre-existence columns with NULL).
    */
  def changes(spark: SparkSession, dir: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV < toV, s"need fromV < toV, got $fromV -> $toV")
    val b = manifest(dir, Some(toV))
    // both sides read with toV's schema (additive evolution fills
    // pre-existence columns with NULL) — the from-side manifest keeps
    // its own file/delete lists but adopts the newer schema
    val a = manifest(dir, Some(fromV)).copy(schemaJson = b.schemaJson,
      renames = b.renames, retired = b.retired)
    // Pending merge-on-read tombstones may GROW across the range (each
    // is immutable once committed, so superset == "only added"): the
    // rows they newly kill surface as 'delete' feed rows below. A range
    // where tombstones DISAPPEAR crosses a materializeDeletes, replace,
    // or restore boundary — which of those happened is not recoverable
    // from the endpoints, so refuse rather than guess.
    val aDel = a.deleteFiles.toSet
    val aPos = a.posDeleteFiles.toSet
    require(a.deleteFiles.forall(b.deleteFiles.contains)
      && a.posDeleteFiles.forall(b.posDeleteFiles.contains),
      s"change feed $fromV -> $toV crosses a boundary that REMOVED merge-on-read " +
        "delete files (materializeDeletes, replace, or restore); diff sub-ranges " +
        "that do not cross it (or use netChanges)")
    val newDeletes = b.deleteFiles.filterNot(aDel)
    val newPosDeletes = b.posDeleteFiles.filterNot(aPos)
    val aPaths = a.files.map(_.path).toSet
    val bPaths = b.files.map(_.path).toSet
    // file-diff half: each side read through ITS OWN endpoint's applied
    // view, so a row already tombstoned at fromV never shows as deleted
    // and a row born tombstoned at toV never shows as inserted
    val ins = appliedRead(spark, b, b.files.map(_.path).filterNot(aPaths))
    val del = appliedRead(spark, a, a.files.map(_.path).filterNot(bPaths))
    // tombstone half: rows of files PRESENT AT BOTH endpoints that the
    // range's NEW tombstones kill = visible-at-a minus visible-at-b,
    // restricted (bounded probe) to the shared files that actually hold
    // a newly-tombstoned row — work stays O(touched files)
    val tomb: DataFrame =
      if (newDeletes.isEmpty && newPosDeletes.isEmpty) readFiles(spark, b.schemaJson, Nil)
      else {
        val shared = a.files.filter(f => bPaths(f.path))
        val probe = b.copy(files = shared,
          deleteFiles = newDeletes, posDeleteFiles = newPosDeletes)
        val doomed = morDoomedPaths(spark, probe, shared.map(_.path)).toSeq
        if (doomed.isEmpty) readFiles(spark, b.schemaJson, Nil)
        else appliedRead(spark, a.copy(files = shared), doomed)
          .exceptAll(appliedRead(spark, b.copy(files = shared), doomed))
      }
    val delAll = del.unionByName(tomb)
    ins.exceptAll(delAll).withColumn("_change", lit("insert"))
      .unionByName(delAll.exceptAll(ins).withColumn("_change", lit("delete")))
  }

  /** [[changes]] whenever the range supports the file-bounded feed;
    * when the range crosses a tombstone-removing boundary the bounded
    * feed refuses, the fallback ladder is:
    *
    *  1. STITCH, still bounded: if every such boundary in the range is
    *     a STATE-PRESERVING maintenance commit (`op` marker:
    *     materializeDeletes / full compact — applied view identical to
    *     the parent's), the range splits AT the boundaries, each
    *     sub-range runs the bounded [[changes]], and the pieces fold
    *     with multiset cancellation (a row inserted in one piece and
    *     deleted in a later one nets out). Exact because the boundary
    *     commits contribute zero visible-row delta by construction —
    *     so the routine maintenance cadence ([[maintain]]) costs a
    *     consumer O(touched files of the REAL commits), never a
    *     table-sized diff.
    *  2. Full APPLIED-SNAPSHOT multiset diff: for boundaries that
    *     genuinely rewrite state ([[replace]], [[restore]]) or ranges
    *     whose interior versions were expired (the boundaries cannot
    *     be located). Always correct — both endpoints read through
    *     their applied views, the two-way EXCEPT ALL is by definition
    *     the net row delta — but TABLE-sized, acceptable exactly
    *     because those events are rare and deliberate.
    *
    * Incremental consumers ([[graft.streaming.ChangeFeedStream]]) use
    * this so a maintenance window never wedges the cursor.
    */
  def netChanges(spark: SparkSession, dir: String, fromV: Long, toV: Long): DataFrame =
    try changes(spark, dir, fromV, toV)
    catch {
      case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("REMOVED merge-on-read") =>
        stitchedChanges(spark, dir, fromV, toV).getOrElse {
          // the from side reads through toV's schema, mirroring changes():
          // a range that crosses BOTH a tombstone-removing boundary and an
          // additive schema change would otherwise fail the EXCEPT ALL on
          // column count (additive evolution fills pre-existence columns
          // with NULL on the older files)
          val mB = manifest(dir, Some(toV))
          val mA = manifest(dir, Some(fromV)).copy(schemaJson = mB.schemaJson,
            renames = mB.renames, retired = mB.retired)
          val a = appliedRead(spark, mA, mA.files.map(_.path))
          val b = appliedRead(spark, mB, mB.files.map(_.path))
          b.exceptAll(a).withColumn("_change", lit("insert"))
            .unionByName(a.exceptAll(b).withColumn("_change", lit("delete")))
        }
    }

  /** The bounded cross-boundary feed (ladder step 1 of [[netChanges]]):
    * Some(feed) when every tombstone-removing boundary in (fromV, toV]
    * carries a state-preserving `op` marker and all interior versions
    * are still retained (needed to locate the boundaries), None
    * otherwise. Work: O(commits in range) head metadata to find the
    * cut points — the same cost an incremental consumer already pays
    * per poll — plus the touched files of each sub-range's bounded
    * [[changes]]; the final cancellation is O(|feed rows|).
    */
  private def stitchedChanges(
      spark: SparkSession, dir: String, fromV: Long, toV: Long): Option[DataFrame] = {
    val live = versions(dir).toSet
    if (!(fromV to toV).forall(live)) return None
    val ms = (fromV to toV).map(v => v -> manifest(dir, Some(v))).toMap
    val removers = (fromV + 1 to toV).filter { v =>
      val (p, c) = (ms(v - 1), ms(v))
      !p.deleteFiles.forall(c.deleteFiles.contains) ||
        !p.posDeleteFiles.forall(c.posDeleteFiles.contains)
    }
    if (removers.isEmpty || !removers.forall(v => ms(v).statePreserving)) return None
    // split at the boundaries: applied(b) == applied(b-1) for every cut
    // b, so the sub-range feeds compose exactly; no remover sits inside
    // a sub-range by construction, so each bounded changes() holds
    val los = fromV +: removers
    val his = removers.map(_ - 1) :+ toV
    val feeds = los.zip(his).collect { case (lo, hi) if lo < hi =>
      changes(spark, dir, lo, hi)
    }
    if (feeds.isEmpty) // every sub-range degenerate: no visible change at all
      return Some(readFiles(spark, ms(toV).schemaJson, Nil).withColumn("_change", lit("insert")))
    // fold with multiset cancellation; allowMissingColumns bridges
    // additive evolution between sub-ranges (older pieces read pre-
    // existence columns as NULL, exactly as a toV-schema read would)
    val all = feeds.reduce(_.unionByName(_, allowMissingColumns = true))
    val ins = all.filter(col("_change") === "insert").drop("_change")
    val del = all.filter(col("_change") === "delete").drop("_change")
    val cols = DataFrameSchema.fromJson(ms(toV).schemaJson).fieldNames.toIndexedSeq
    Some(ins.exceptAll(del).withColumn("_change", lit("insert"))
      .unionByName(del.exceptAll(ins).withColumn("_change", lit("delete")))
      .select((cols.map(col) :+ col("_change")): _*))
  }

  /** RESTORE the table to the content of an older retained snapshot —
    * metadata-only and O(1) data I/O: a new manifest version is
    * committed whose file list, schema, and track spec are `toVersion`'s
    * verbatim. Nothing is copied or rewritten; history stays linear and
    * auditable (the bad commits remain time-travelable until expiry,
    * and the restore itself is one more version, not a log rewrite) —
    * Delta's RESTORE semantics. The undo for a bad merge/delete/load:
    * at 100 TB the alternative is re-writing the table.
    *
    * Concurrency: the optimistic install loop means a restore racing an
    * append linearizes like any commit — whichever lands second is the
    * table's content. A restore DISCARDS commits after `toVersion` by
    * intent; that is what the operation means.
    */
  def restore(dir: String, toVersion: Long): Long = {
    val src = manifest(dir, Some(toVersion)) // throws if expired/absent
    var committed = -1L
    while (committed < 0) {
      val head = latestVersion(dir)
      require(head.exists(_ >= toVersion), s"cannot restore $dir forward to v=$toVersion")
      if (head.contains(toVersion)) return toVersion // already there
      val v = head.get + 1
      committed = tryInstall(dir,
        Manifest(v, head, None, src.schemaJson, src.track, src.files,
          src.deleteKeys, src.deleteFiles, src.posDeleteFiles,
          renames = src.renames, retired = src.retired,
          trackSince = src.trackSince,
          // properties are snapshot-versioned: restore brings back the
          // restored snapshot's config along with its content
          props = src.props, retypes = src.retypes))
    }
    committed
  }

  private def commitFiles(
      df: DataFrame, dir: String, track: Seq[String],
      txn: Option[String], replace: Boolean): Long = {
    val spark = df.sparkSession
    new java.io.File(dir, "data").mkdirs()
    new java.io.File(dir, "_manifests").mkdirs()
    // replay short-circuit BEFORE staging: a re-fired batch must not
    // even write duplicate (orphan) data
    txn.flatMap(committedTxn(dir, _)).getOrElse {
      val missing = track.map(TrackSpec.parse(_).source).filterNot(df.schema.fieldNames.contains)
      require(missing.isEmpty, s"tracked column(s) ${missing.mkString(", ")} not in schema")
      requireNoReservedColumns(df.schema)
      val stage = s"$dir/data/c-${java.util.UUID.randomUUID()}"
      df.write.parquet(stage)
      installStaged(spark, dir, df.schema, track, txn, stage, replace)
    }
  }

  /** `__`-prefixed names are the table machinery's internal namespace
    * (`__bname` file attribution, `__rowidx` positions, the MoR join's
    * seq columns) — a data column there would silently collide with
    * the applied-read pipeline, so commits reject them up front.
    */
  private def requireNoReservedColumns(schema: StructType): Unit = {
    val bad = schema.fieldNames.filter(_.startsWith("__"))
    require(bad.isEmpty,
      s"column name(s) ${bad.mkString(", ")} use the reserved __ prefix " +
        "(internal to the manifest table's delete/attribution machinery); rename them")
    // `_version` is the catalog's metadata column (Iceberg reserves its
    // metadata names the same way): a data column of that name would be
    // silently shadowed by the constant snapshot version on read.
    val meta = schema.fieldNames.filter(_ == "_version")
    require(meta.isEmpty,
      "column name _version is reserved for the snapshot-version metadata column; rename it")
  }

  /** Stats + optimistic install for an already-staged write — the
    * publish half shared by [[commitFiles]], [[commitAudited]], and
    * the native V2 batch write ([[GraftBatchWrite]], whose executors
    * stage the files directly).
    */
  private[sources] def installStaged(
      spark: SparkSession, dir: String, schema: StructType, track: Seq[String],
      txn: Option[String], stage: String, replace: Boolean): Long = {
    // stats read the staged files under the TABLE's (possibly wider)
    // types, re-collected if a retry observes a different head schema:
    // an upcast append's envelopes and bucket hashes must live in the
    // same domain every reader probes in (a float stat rendered narrow
    // would under-cover its widened read; a bucket hash of an int is
    // not the hash of the same value as a long)
    var statsSchema: StructType = null
    var newFiles: Seq[FileEntry] = null
    var committed = -1L
    while (committed < 0) {
      // another writer with OUR txn can't exist (txn ids are per-stream,
      // single-flight); other writers just move the head we append to
      val head = latestVersion(dir)
      val parent = if (replace) None else head.map(v => manifest(dir, Some(v)))
      val forStats = parent.map(p => upcastForStats(schema, p.schemaJson)).getOrElse(schema)
      if (statsSchema != forStats) {
        newFiles = collectStats(spark, stage, track, forStats)
        statsSchema = forStats
      }
      val v = head.getOrElse(0L) + 1
      val m = parent match {
        case Some(p) => appendOnto(p, schema, track, newFiles, v, txn)
        // replace starts clean: no old file, tombstone, or rename
        // chain survives (the content they applied to is gone) — but
        // table PROPERTIES are config, not content: INSERT OVERWRITE /
        // TRUNCATE must not silently reset write.delete.mode. The
        // incoming schema is sanitized for the same reason as appends:
        // a foreign graft.added-in HIGHER than this commit's v would
        // claim the replace's own files (seq = v < foreign version)
        // known-constant when they hold real values
        case None => Manifest(v, head, txn, sanitizeIncoming(schema).json, track,
          newFiles.map(_.copy(seq = v)),
          props = head.map(h => manifest(dir, Some(h)).props).getOrElse(Map.empty))
      }
      committed = tryInstall(dir, m)
    }
    committed
  }

  /** Append-commit manifest construction, shared by the MAIN install
    * loop and branch commits ([[commitToBranch]]): evolution-validated
    * against the parent; nullability may only WIDEN (a batch whose
    * analyzed schema marks an evolved column non-null — a VALUES
    * literal, a NOT NULL source — must not flip the TABLE schema:
    * older files have no value for columns added after them, and a
    * non-null declaration would both fail those reads and let Catalyst
    * rewrite count(col) into count(*)); the parent's pending
    * merge-on-read tombstones and rename chain carry forward, and the
    * new files enter with seq = v > every pending delete's seq, so
    * fresh rows are never shadowed.
    */
  private def appendOnto(
      parent: Manifest, rawSchema: StructType, track: Seq[String],
      newFiles: Seq[FileEntry], v: Long, txn: Option[String]): Manifest = {
    // incoming frames never inject table-owned claim keys (see
    // OwnedMetadataKeys — a foreign graft.added-in would mis-prune
    // this table's own files); legitimately-NEW columns get a FRESH
    // added-in stamp below, exactly like ALTER TABLE ADD COLUMN
    val schema = sanitizeIncoming(rawSchema)
    validateEvolution(parent, schema, track)
    val pByName = DataFrameSchema.fromJson(parent.schemaJson)
      .fields.map(f => f.name -> f).toMap
    val tableSchema = StructType(schema.fields.map { f =>
      pByName.get(f.name) match {
        // the PARENT type wins on overlap: equal, or wider than an
        // upcast append's narrow frame (validateEvolution admitted it)
        // — the committed schema must never narrow. Parent field
        // METADATA merges OVER incoming rather than whole-object
        // replacement: DataFrames commonly carry field metadata (ML
        // attributes, source annotations), and letting a non-empty
        // incoming object win would silently replace or drop the
        // table's column comment on an ordinary append. Incoming keys
        // the parent doesn't claim ride along; on conflict (notably
        // "comment", the ALTER-TABLE-owned key) the parent wins.
        case Some(pf) =>
          val merged =
            if (f.metadata == org.apache.spark.sql.types.Metadata.empty) pf.metadata
            else if (pf.metadata == org.apache.spark.sql.types.Metadata.empty) f.metadata
            else new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).withMetadata(pf.metadata).build()
          f.copy(dataType = pf.dataType, nullable = pf.nullable || f.nullable,
            metadata = merged)
        // a column the parent lacks = append-evolution ADD: stamp the
        // commit version so pre-add files (every live file — all have
        // seq < v) carry the sound all-null pruning claim, the same
        // claim addColumns stamps (no EXISTS_DEFAULT: appends can't
        // declare a DEFAULT clause, so the initial default is NULL)
        case None => f.copy(nullable = true, metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(AddedInKey, v).build())
      }
    })
    Manifest(v, Some(parent.version), txn, tableSchema.json, track,
      parent.files ++ newFiles.map(_.copy(seq = v)),
      parent.deleteKeys, parent.deleteFiles, parent.posDeleteFiles,
      renames = parent.renames, retired = parent.retired,
      trackSince = parent.trackSince, props = parent.props,
      retypes = parent.retypes)
  }

  /** Write-audit-publish (Iceberg's WAP discipline, as one call): stage
    * `df`, run `audit` against the STAGED files — exactly the bytes
    * that would become visible, so the gate can never drift from the
    * published data — and install the manifest only if no audit row
    * reports violations. A failed audit deletes the staging dir and
    * throws; the table head is untouched and NO version was created,
    * so downstream readers (and incremental consumers keyed on
    * versions) never observe the bad batch even transiently — the
    * property per-table quarantine queries can't give you.
    *
    * `audit` returns a frame with a long `n_violations` column (e.g.
    * [[graft.operators.Stats.dqChecks]]); any row with
    * `n_violations > 0` aborts, and the offending check rows ride the
    * exception message. The audit pass is one extra scan of the BATCH
    * (never the table); `txn` gives the same exactly-once replay
    * window as [[commit]].
    */
  def commitAudited(
      df: DataFrame, dir: String, track: Seq[String],
      audit: DataFrame => DataFrame, txn: Option[String] = None): Long = {
    val spark = df.sparkSession
    new java.io.File(dir, "data").mkdirs()
    new java.io.File(dir, "_manifests").mkdirs()
    txn.flatMap(committedTxn(dir, _)).getOrElse {
      val missing = track.map(TrackSpec.parse(_).source).filterNot(df.schema.fieldNames.contains)
      require(missing.isEmpty, s"tracked column(s) ${missing.mkString(", ")} not in schema")
      requireNoReservedColumns(df.schema)
      val stage = s"$dir/data/c-${java.util.UUID.randomUUID()}"
      df.write.parquet(stage)
      // ANY failure between staging and install — a violating audit, a
      // throwing audit callback (analysis error, missing n_violations
      // column), or a rejected install — reclaims the staging dir, so
      // "staging reclaimed on abort" holds without waiting for vacuum
      try {
        val staged = spark.read.schema(df.schema).parquet(stage)
        val bad = audit(staged).filter(col("n_violations") > 0).collect()
        if (bad.nonEmpty) throw new IllegalStateException(
          s"audit failed, commit aborted (head untouched): ${bad.mkString("; ")}")
        installStaged(spark, dir, df.schema, track, txn, stage, replace = false)
      } catch {
        case e: Throwable => deleteRec(new java.io.File(stage)); throw e
      }
    }
  }

  /** ADDITIVE schema evolution on append: the incoming frame must carry
    * every parent column with its exact type; extra columns are new —
    * the snapshot schema moves to the append's, and files committed
    * before the column existed read it as NULL (the parquet reader
    * fills absent columns), which is exactly Iceberg/Delta `ADD
    * COLUMN` semantics with zero file rewrites. Dropping or retyping a
    * column via append is rejected — old data would silently vanish or
    * fail at read; use [[replace]] (a full rewrite) to restructure.
    *
    * The track list must also match the parent's exactly: a tracked
    * column some entries lack stats for is indistinguishable from a
    * null envelope, and pruning would skip live files. Evolving the
    * skipping spec is a [[replace]]/[[compact]] (which recollects
    * stats for every file it writes).
    */
  private def validateEvolution(
      parent: Manifest, incoming: StructType, track: Seq[String]): Unit = {
    val parentSchema = DataFrameSchema.fromJson(parent.schemaJson)
    val incomingByName = incoming.fields.map(f => f.name -> f.dataType).toMap
    parentSchema.fields.foreach { f =>
      incomingByName.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"append drops column ${f.name}; appends may only ADD columns " +
            "(use replace to restructure)")
        // a value-preserving UPCAST is legal: the incoming frame's
        // column safely widens to the table's type (an old writer
        // still producing ints after an int -> long widen, a literal
        // narrower than the column) — files keep their narrow bytes,
        // the manifest schema stays the table's, and the parquet
        // reader widens at scan exactly like the retype-era machinery.
        // Stats for such appends are collected READING the staged
        // files under the TABLE type (see upcastForStats), so
        // envelopes and bucket hashes live in the wide domain.
        case Some(dt) if dt != f.dataType && !safeWiden(dt, f.dataType) =>
          throw new IllegalArgumentException(
            s"append retypes column ${f.name}: ${f.dataType} -> $dt; " +
              "appends may only ADD columns or narrow-to-wide upcast " +
              "(use replace to restructure)")
        case _ => ()
      }
    }
    require(track.toSet == parent.track.toSet,
      s"append changes the tracked columns ${parent.track.mkString(", ")} -> " +
        s"${track.mkString(", ")}; stats would be inconsistent across files " +
        "(use replace/compact to evolve the skipping spec)")
  }

  // ------------------------------------------------------ row-level writes

  /** Row-level DELETE with SQL semantics (rows where `cond` evaluates
    * TRUE are removed; FALSE and NULL rows survive), as file-granular
    * copy-on-write: one pass over the head snapshot finds the files
    * that contain at least one matching row (O(files) metadata
    * collected, never data), ONLY those files are rewritten without
    * their matching rows, and the new manifest swaps the rewritten
    * entries in atomically. Files with no matching row keep their
    * exact existing entries — at 100 TB a selective delete rewrites a
    * handful of files, not the table, and the touched-file scan reads
    * only the columns `cond` references (column pruning reaches the
    * parquet scan).
    *
    * Isolation: the delete is computed against the head snapshot at
    * call time. Concurrent APPENDS rebase cleanly (their files are
    * untouched and survive); a concurrent writer that REMOVED one of
    * the files this delete rewrites ([[replace]], [[compact]], another
    * delete/merge) is a genuine write-write conflict and raises
    * `ConcurrentModificationException` rather than silently resurrecting
    * or double-deleting rows — the caller re-reads and retries, the
    * same contract Iceberg gives serializable row-level operations.
    *
    * Returns the committed version; if no file contains a matching row
    * the table is untouched and the head version returns as-is. `txn`
    * gives streaming replays exactly-once semantics as in [[commit]].
    */
  def delete(spark: SparkSession, dir: String, cond: Column, txn: Option[String] = None): Long =
    txn.flatMap(committedTxn(dir, _)).getOrElse {
      val head = manifest(dir, None)
      // the APPLIED view (pending merge-on-read tombstones removed, file
      // name retained for attribution): both the touched-file probe and
      // the rewrite see post-tombstone content, so a CoW delete composes
      // with pending MoR deletes instead of refusing — rewritten files
      // enter with a fresh seq the old tombstones never apply to, and
      // untouched files keep theirs (the carried tombstones still apply)
      val snap = appliedReadWithFile(spark, head, head.files.map(_.path))
      // cond evaluates twice (find touched files, then rewrite them); a
      // nondeterministic predicate could rewrite a different row set
      // than it matched — reject rather than corrupt (analysis only,
      // no job: the projection is never executed)
      require(
        snap.select(cond.as("__c")).queryExecution.analyzed.expressions.forall(_.deterministic),
        s"delete condition must be deterministic: $cond")
      val byName = head.files.map(f => fileBasename(f.path) -> f.path).toMap
      val touched = snap.where(cond)
        .select("__bname").distinct()
        .collect().map(r => byName(r.getString(0))).toSet
      if (touched.isEmpty) head.version
      else {
        // keep = NOT-deleted: survive on FALSE **or NULL** cond (SQL DELETE)
        val kept = appliedRead(spark, head, touched.toSeq)
          .where(coalesce(!cond, lit(true)))
        installRewrite(kept, dir, head, touched, txn)
      }
    }

  /** Row-level UPDATE with SQL semantics — the third member of the DML
    * triad beside [[delete]] and [[merge]]: rows where `cond` evaluates
    * TRUE get each column in `set` replaced by its expression
    * (evaluated against the OLD row, so `set("price" -> col("price") *
    * 2)` works); FALSE/NULL rows are untouched. File-granular
    * copy-on-write exactly like [[delete]]: only files containing a
    * matching row rewrite (found through the applied view — composes
    * with pending merge-on-read tombstones, which carry forward), the
    * swap is one atomic manifest commit, and concurrent appends rebase.
    * Update expressions must keep each column's type (a retype would
    * silently fork the schema from the manifest's) and must be
    * deterministic (cond and the expressions evaluate twice: the
    * touched-file probe and the rewrite).
    */
  def update(
      spark: SparkSession, dir: String, cond: Column,
      set: Map[String, Column], txn: Option[String] = None): Long =
    txn.flatMap(committedTxn(dir, _)).getOrElse {
      require(set.nonEmpty, "UPDATE needs at least one SET column")
      val head = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(head.schemaJson)
      val missing = set.keys.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty, s"SET column(s) ${missing.mkString(", ")} not in schema")
      val snap = appliedReadWithFile(spark, head, head.files.map(_.path))
      val exprs = cond +: set.values.toSeq
      require(
        snap.select(exprs.zipWithIndex.map { case (c, i) => c.as(s"__e$i") }: _*)
          .queryExecution.analyzed.expressions.forall(_.deterministic),
        "update condition and SET expressions must be deterministic")
      // type pin: each SET expression must keep the column's committed type
      val probe = snap.select(set.map { case (k, c) => c.as(k) }.toSeq: _*)
      set.keys.foreach { k =>
        val got = probe.schema(k).dataType
        require(got == schema(k).dataType,
          s"SET retypes column $k: ${schema(k).dataType} -> $got; cast the expression")
      }
      val byName = head.files.map(f => fileBasename(f.path) -> f.path).toMap
      val touched = snap.where(cond)
        .select("__bname").distinct()
        .collect().map(r => byName(r.getString(0))).toSet
      if (touched.isEmpty) head.version
      else {
        val updatedCols = schema.fieldNames.map { f =>
          set.get(f) match {
            case Some(e) => when(coalesce(cond, lit(false)), e).otherwise(col(f)).as(f)
            case None => col(f)
          }
        }
        val rewritten = appliedRead(spark, head, touched.toSeq)
          .select(updatedCols.toIndexedSeq: _*)
        installRewrite(rewritten, dir, head, touched, txn)
      }
    }

  /** MERGE-ON-READ row-level UPDATE — the typed twin of SQL UPDATE
    * under `write.update.mode=merge-on-read` ([[GraftDeltaOperation]]):
    * the matching rows' `keys` tuples stage as equality tombstones and
    * their updated versions stage as fresh data files, committed
    * together in ONE atomic version by [[installStagedDelta]] — nothing
    * rewrites, cost is O(matching rows) bytes. Same SQL semantics as
    * [[update]] (FALSE/NULL conditions leave rows, SET keeps committed
    * types) and the same identifier contract as the SQL path: `keys`
    * must identify rows uniquely and non-null, and the condition must
    * not split duplicate-key groups (an equality tombstone kills the
    * whole group; only matching rows re-insert).
    */
  def updateMor(
      spark: SparkSession, dir: String, cond: Column,
      set: Map[String, Column], keys: Seq[String],
      txn: Option[String] = None): Long = txn.flatMap(committedTxn(dir, _)).getOrElse {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    require(keys.nonEmpty, "need at least one identifier column")
    val head = manifest(dir, None)
    val schema = DataFrameSchema.fromJson(head.schemaJson)
    val missing = (set.keys ++ keys).filterNot(schema.fieldNames.contains).toSeq.distinct
    require(missing.isEmpty, s"column(s) ${missing.mkString(", ")} not in schema")
    require(head.deleteKeys.isEmpty || head.deleteKeys == keys,
      s"table already has pending deletes keyed by [${head.deleteKeys.mkString(", ")}]")
    val snap = appliedSnapshot(spark, head)
    val exprs = cond +: set.values.toSeq
    require(
      snap.select(exprs.zipWithIndex.map { case (c, i) => c.as(s"__e$i") }: _*)
        .queryExecution.analyzed.expressions.forall(_.deterministic),
      "update condition and SET expressions must be deterministic")
    val probe = snap.select(set.map { case (k, c) => c.as(k) }.toSeq: _*)
    set.keys.foreach { k =>
      val got = probe.schema(k).dataType
      require(got == schema(k).dataType,
        s"SET retypes column $k: ${schema(k).dataType} -> $got; cast the expression")
    }
    val touched = snap.where(coalesce(cond, lit(false)))
    val nNullKey = touched.filter(keys.map(col(_).isNull).reduce(_ || _)).limit(1).count()
    require(nNullKey == 0,
      "merge-on-read update: a touched row carries NULL in an identifier column")
    val stage = s"$dir/data/c-delta-${java.util.UUID.randomUUID()}"
    val dataStage = s"$stage/rows"
    val keysStage = s"$stage/keys"
    touched.select(keys.map(col).toIndexedSeq: _*).distinct().write.parquet(keysStage)
    val updatedCols = schema.fieldNames.map { f =>
      set.get(f) match {
        case Some(e) => e.as(f)
        case None => col(f)
      }
    }
    touched.select(updatedCols.toIndexedSeq: _*).write.parquet(dataStage)
    installStagedDelta(spark, dir, head, schema, keys, dataStage, keysStage, txn)
  }

  /** MERGE-ON-READ equality delete — the WRITE-cheap sibling of the
    * copy-on-write [[delete]]: committing removes NOTHING from data
    * files; it stages only the distinct key tuples (`keyRows`, columns
    * = `keys`) as a tombstone file and appends a [[DeleteEntry]] to the
    * manifest. Cost is O(|keys deleted|) bytes written — kilobytes
    * where a CoW delete rewrites gigabytes — which is why lakes expose
    * both: MoR for frequent fine-grained deletes (GDPR erasure, CDC
    * retractions), CoW/[[materializeDeletes]] to fold the read-side
    * debt back down.
    *
    * Read-side semantics (applied by every reader via the snapshot
    * path): a delete committed at version d removes key-matching rows
    * from files with `seq < d` ONLY — re-inserting a deleted key later
    * is never shadowed (Iceberg's sequence-number rule; spec'd). One
    * key spec per table at a time: mixing key shapes would make "which
    * tombstone applies" ambiguous. CoW operations (delete/merge/
    * compact) COEXIST with pending deletes: they compute through the
    * applied view, so rewritten files fold their tombstoned rows out
    * (fresh seq outranks the tombstones) while untouched files keep
    * applying the carried tombstones on read — a retraction stream
    * never forces a materialization cycle before the next upsert.
    * [[changes]] likewise diffs across tombstone-ADDING commits
    * (newly-killed rows surface as 'delete' feed rows); only ranges
    * where tombstones disappear (materialize/replace/restore) refuse.
    */
  def deleteByKey(
      keyRows: DataFrame, dir: String, keys: Seq[String],
      txn: Option[String] = None): Long = {
    val spark = keyRows.sparkSession
    require(keys.nonEmpty, "need at least one key column")
    txn.flatMap(committedTxn(dir, _)).getOrElse {
      val head = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(head.schemaJson)
      val missing = keys.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty, s"key column(s) ${missing.mkString(", ")} not in schema")
      require(head.deleteKeys.isEmpty || head.deleteKeys == keys,
        s"table already has pending deletes keyed by [${head.deleteKeys.mkString(", ")}]; " +
          "materialize before switching key spec")
      require(keyRows.columns.sorted.sameElements(keys.sorted),
        s"keyRows columns [${keyRows.columns.sorted.mkString(", ")}] must be exactly the keys")
      val typed = keyRows.select(keys.map(k => col(k).cast(schema(k).dataType)).toIndexedSeq: _*)
      val nNull = typed.filter(keys.map(col(_).isNull).reduce(_ || _)).limit(1).count()
      require(nNull == 0, "delete keys must be non-null (a null key never equi-joins)")
      val stage = s"$dir/data/c-${java.util.UUID.randomUUID()}"
      typed.distinct().write.parquet(stage)
      val keySchema = StructType(keys.map(k => schema(k)))
      val staged = spark.read.schema(keySchema).parquet(stage)
        .groupBy(input_file_name().as("p")).agg(count(lit(1)).as("n"))
        .collect().map(r => stripScheme(r.getString(0)) -> r.getLong(1))
      // an EMPTY key frame stages zero part files; committing it would
      // set deleteKeys with no DeleteEntry — a version that wedges any
      // later deleteByKey with a different key spec (materializeDeletes
      // would early-return without clearing the spec). No keys = no
      // delete = no version.
      if (staged.isEmpty) { deleteRec(new java.io.File(stage)); return head.version }
      var committed = -1L
      while (committed < 0) {
        val cur = manifest(dir, None)
        require(cur.deleteKeys.isEmpty || cur.deleteKeys == keys,
          "concurrent writer switched the delete key spec; retry against the new head")
        val v = cur.version + 1
        val m = cur.copy(version = v, parent = Some(cur.version), txn = txn,
          deleteKeys = keys,
          deleteFiles = cur.deleteFiles ++ staged.map { case (p, n) => DeleteEntry(p, n, v) },
          op = None)
        committed = tryInstall(dir, m)
      }
      committed
    }
  }

  /** The publish half of a MERGE-ON-READ row-level DELTA (SQL UPDATE /
    * MERGE INTO under `write.update.mode` / `write.merge.mode` =
    * merge-on-read, via [[GraftDeltaOperation]]): ONE atomic commit
    * carrying both halves of the delta — equality tombstones for the
    * touched rows' identifier keys (`keysStage`, applying seq-scoped to
    * every EARLIER file) and fresh data files for the new row versions
    * (`dataStage`, entering at seq = v so the tombstones never shadow
    * them). Nothing rewrites: a selective 100 TB upsert costs O(Δ)
    * bytes, and the atomicity means no reader can ever observe the
    * tombstones without their replacement rows. The Iceberg/Flink-CDC
    * equality-delete commit shape.
    *
    * Pure-insert deltas (MERGE with only NOT MATCHED hits) commit as a
    * plain append; an empty delta commits nothing. Key-spec and
    * rename-era races refuse like every other staged install.
    */
  private[sources] def installStagedDelta(
      spark: SparkSession, dir: String, base: Manifest, schema: StructType,
      keys: Seq[String], dataStage: String, keysStage: String,
      txn: Option[String] = None): Long = {
    val newFiles =
      if (Option(new java.io.File(dataStage).listFiles()).exists(_.nonEmpty))
        // under the table's types (upcast appends, see installStaged);
        // safe against the base-schema race because the install loop
        // refuses on any base-vs-head schema drift
        collectStats(spark, dataStage, base.track, upcastForStats(schema, base.schemaJson))
      else Nil
    val tableSchema = DataFrameSchema.fromJson(base.schemaJson)
    val keySchema = StructType(keys.map(k => tableSchema(k)))
    val stagedKeys: Seq[(String, Long)] =
      if (Option(new java.io.File(keysStage).listFiles()).exists(_.nonEmpty))
        spark.read.schema(keySchema).parquet(keysStage)
          .groupBy(input_file_name().as("p")).agg(count(lit(1)).as("n"))
          .collect().map(r => stripScheme(r.getString(0)) -> r.getLong(1)).toSeq
      else Nil
    if (newFiles.isEmpty && stagedKeys.isEmpty) return base.version
    var committed = -1L
    while (committed < 0) {
      val cur = manifest(dir, None)
      require(cur.deleteKeys.isEmpty || cur.deleteKeys == keys,
        s"table already has pending deletes keyed by [${cur.deleteKeys.mkString(", ")}]; " +
          s"this delta's identifier is [${keys.mkString(", ")}] — materialize first")
      // staged bytes and tombstone keys were computed under base's
      // schema, name era, AND track spec; a concurrent evolution makes
      // them stale. The track check matters for correctness, not just
      // layout: collectStats above ran under base.track, so a column
      // tracked concurrently (addTrackedColumn) would get no stat
      // envelope in these files — yet their seq v postdates the new
      // trackSince watermark, so skipping would treat the absent key
      // as an all-NULL envelope and silently prune live rows.
      if (cur.schemaJson != base.schemaJson || cur.renames != base.renames ||
          cur.track != base.track || cur.trackSince != base.trackSince)
        throw new java.util.ConcurrentModificationException(
          s"$dir: schema or track spec evolved (v${base.version} -> v${cur.version}) " +
            "while this delta was staged; re-run the statement against the new head")
      val v = cur.version + 1
      // a pure-delete delta's write schema is just the rowId columns
      // (Spark's delete plan carries no full rows) — with no new files
      // the manifest keeps the table schema verbatim
      val evolveAs =
        if (newFiles.isEmpty) DataFrameSchema.fromJson(cur.schemaJson) else schema
      val appended = appendOnto(cur, evolveAs, track = cur.track, newFiles, v, txn)
      committed = tryInstall(dir, appended.copy(
        deleteKeys = if (stagedKeys.isEmpty) appended.deleteKeys else keys,
        deleteFiles = appended.deleteFiles ++
          stagedKeys.map { case (p, n) => DeleteEntry(p, n, v) }))
    }
    committed
  }

  /** MERGE-ON-READ positional delete — write-cheap `DELETE WHERE` for
    * arbitrary predicates (the Iceberg v2 positional-delete / Delta
    * deletion-vector role): rows matching `cond` are named by exact
    * (file-basename, row-index) pairs — the parquet reader's own
    * `_metadata.row_index` — and committing stages only those pairs as
    * a tombstone file. NOTHING rewrites; cost is O(matching rows)
    * pairs of bytes where the CoW [[delete]] rewrites whole files.
    * Readers apply the pairs with one anti join; a file later
    * rewritten by any CoW operation gets a NEW basename, so stale
    * pairs can never re-apply (path-scoping replaces the equality
    * deletes' sequence rule). Unlike [[deleteByKey]] there is no
    * key-spec constraint — positional tombstones stack freely beside
    * equality tombstones; [[materializeDeletes]] folds both.
    *
    * Choose by write/read balance: [[delete]] (CoW) pays the rewrite
    * now and reads clean; this pays O(rows) now and one anti join per
    * read until materialization. Same determinism requirement as
    * [[delete]] (cond evaluates once here, but a nondeterministic cond
    * names an unreproducible row set).
    */
  def deleteWhere(
      spark: SparkSession, dir: String, cond: Column,
      txn: Option[String] = None): Long =
    txn.flatMap(committedTxn(dir, _)).getOrElse {
      val head = manifest(dir, None)
      if (head.files.isEmpty) return head.version
      val snap = appliedReadWithFile(spark, head, head.files.map(_.path))
      require(
        snap.select(cond.as("__c")).queryExecution.analyzed.expressions.forall(_.deterministic),
        s"deleteWhere condition must be deterministic: $cond")
      val stage = s"$dir/data/c-${java.util.UUID.randomUUID()}"
      // name the doomed rows: (basename, row_index) straight off the
      // applied view, so already-tombstoned rows are never re-named
      posAppliedWithIdx(spark, head)
        .where(cond)
        .select(col("__bname").as("__dbname"), col("__rowidx").as("__dpos"))
        .write.parquet(stage)
      val staged = spark.read.schema(posDeleteSchema).parquet(stage)
        .groupBy(input_file_name().as("p")).agg(count(lit(1)).as("n"))
        .collect().map(r => stripScheme(r.getString(0)) -> r.getLong(1))
      if (staged.isEmpty) { deleteRec(new java.io.File(stage)); return head.version }
      var committed = -1L
      while (committed < 0) {
        val cur = manifest(dir, None)
        // the named (file, pos) pairs are only meaningful against the
        // files they were computed from — a concurrent rewrite that
        // removed one would orphan (harmlessly) or, worse, the rows
        // could have been recomputed; require the file set to contain
        // every target (appends are fine: they add files)
        val curNames = cur.files.map(f => fileBasename(f.path)).toSet
        val targetNames = spark.read.schema(posDeleteSchema).parquet(staged.map(_._1): _*)
          .select("__dbname").distinct().collect().map(_.getString(0))
        val gone = targetNames.filterNot(curNames)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"concurrent writer rewrote ${gone.length} file(s) this positional delete names")
        val v = cur.version + 1
        val m = cur.copy(version = v, parent = Some(cur.version), txn = txn,
          posDeleteFiles = cur.posDeleteFiles ++ staged.map { case (p, n) => DeleteEntry(p, n, v) },
          op = None)
        committed = tryInstall(dir, m)
      }
      committed
    }

  /** The applied view WITH row positions still attached (equality
    * tombstones applied on top of positional ones) — what
    * [[deleteWhere]] names its doomed rows from.
    */
  private def posAppliedWithIdx(spark: SparkSession, m: Manifest): DataFrame = {
    val paths = m.files.map(_.path)
    val withB = readData(spark, m, paths, withBname = true, withRowIdx = true)
    val pos =
      if (m.posDeleteFiles.isEmpty) withB
      else {
        val dels = spark.read.schema(posDeleteSchema)
          .parquet(m.posDeleteFiles.map(_.path): _*)
        withB.join(dels,
          col("__bname") === col("__dbname") && col("__rowidx") === col("__dpos"),
          "left_anti")
      }
    if (m.deleteFiles.isEmpty) pos
    else morJoin(spark, m, pos, paths, "left_anti").drop("__fname", "__fseq")
  }

  /** Fold pending merge-on-read deletes back into the data files: the
    * files that actually hold tombstoned rows (found with one bounded
    * probe) rewrite without them, untouched files carry their entries,
    * and the new manifest drops the tombstones — after which the CoW
    * operations and the change feed are available again. This is the
    * read-debt repayment half of the MoR bargain, the role Iceberg's
    * rewrite-data-files action plays; run it on the maintenance cadence,
    * not per delete.
    */
  def materializeDeletes(spark: SparkSession, dir: String, txn: Option[String] = None): Long =
    txn.flatMap(committedTxn(dir, _)).getOrElse {
      val head = manifest(dir, None)
      // deleteKeys with no DeleteEntry (a legacy empty-key-frame commit)
      // still wedges later key-spec switches — fall through and commit
      // the clearing version instead of early-returning past it
      if (!head.hasMorDeletes && head.deleteKeys.isEmpty) return head.version
      val allPaths = head.files.map(_.path)
      // bounded probe: which files still hold a tombstoned row (either
      // delete kind)?
      val affected = morDoomedPaths(spark, head, allPaths)
      var committed = -1L
      var staged: Option[(Seq[FileEntry], Set[String])] = None
      if (affected.nonEmpty) {
        val kept = appliedRead(spark, head, affected.toSeq)
        val stage = s"$dir/data/c-${java.util.UUID.randomUUID()}"
        kept.write.parquet(stage)
        staged = Some((collectStats(spark, stage, head.track,
          DataFrameSchema.fromJson(head.schemaJson)), affected))
      }
      while (committed < 0) {
        val cur = manifest(dir, None)
        require(cur.deleteFiles == head.deleteFiles && cur.posDeleteFiles == head.posDeleteFiles,
          "concurrent writer changed the pending deletes mid-materialize; retry")
        val gone = affected.filterNot(cur.files.map(_.path).toSet)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"concurrent writer removed ${gone.size} file(s) this materialize depends on")
        val v = cur.version + 1
        val files = staged match {
          case Some((newFiles, removed)) =>
            cur.files.filterNot(f => removed(f.path)) ++ newFiles.map(_.copy(seq = v))
          case None => cur.files
        }
        val m = cur.copy(version = v, parent = Some(cur.version), txn = txn,
          files = files, deleteKeys = Nil, deleteFiles = Nil, posDeleteFiles = Nil,
          // state-preserving marker: the applied view is unchanged, which
          // is what lets netChanges stitch a bounded feed across this
          // tombstone-removing boundary
          op = Some("materialize"))
        committed = tryInstall(dir, m)
      }
      committed
    }

  /** MERGE (upsert) of `source` into the table on key columns `keys`:
    * target rows whose key appears in the source are REPLACED by the
    * source row (whole-row semantics — project/derive columns before
    * calling), source rows with no matching target row are appended.
    * Copy-on-write at file granularity like [[delete]]: the touched
    * files are found with a key-only semi join (the target side reads
    * just the key columns; a small source broadcasts under AQE), only
    * those files rewrite, and the surviving target rows union the
    * whole source into one staged write + one atomic manifest swap.
    *
    * `source` must carry exactly the table's columns (any order) and
    * UNIQUE keys — a duplicate-key source would make "the" replacing
    * row nondeterministic, so it fails eagerly with the duplicate
    * count. Same conflict/rebase/`txn` contract as [[delete]].
    */
  def merge(source: DataFrame, dir: String, keys: Seq[String], txn: Option[String] = None): Long = {
    val spark = source.sparkSession
    txn.flatMap(committedTxn(dir, _)).getOrElse {
      val head = manifest(dir, None)
      val schema = DataFrameSchema.fromJson(head.schemaJson)
      require(source.columns.sorted.sameElements(schema.fieldNames.sorted),
        s"source columns [${source.columns.sorted.mkString(", ")}] must match table " +
          s"columns [${schema.fieldNames.sorted.mkString(", ")}]")
      val src = source.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      src.schema.fields.zip(schema.fields).foreach { case (s, t) =>
        require(s.dataType == t.dataType,
          s"source column ${s.name}: ${s.dataType} != table's ${t.dataType}")
      }
      val badKeys = keys.filterNot(schema.fieldNames.contains)
      require(badKeys.isEmpty, s"key column(s) ${badKeys.mkString(", ")} not in schema")
      // one eager audit job: unique keys (else "the" replacing row is
      // nondeterministic) and non-null keys (a null key never equi-joins,
      // so the row could neither replace nor be replaced — it would
      // silently append on every merge)
      val nullKeyCond = keys.map(col(_).isNull).reduce(_ || _)
      val Array(nSrc, nKeys, nNull) = src
        .agg(count(lit(1)), count_distinct(struct(keys.map(col).toIndexedSeq: _*)),
          count(when(nullKeyCond, 1)))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      require(nNull == 0, s"merge source has $nNull row(s) with a null key; keys must be non-null")
      require(nSrc == nKeys,
        s"merge source has ${nSrc - nKeys} duplicate-key row(s); keys must be unique")
      // applied view: a tombstoned target row neither marks its file
      // touched nor survives a rewrite — to the merge the visible table
      // is the truth, exactly as if the tombstones were materialized
      val snap = appliedReadWithFile(spark, head, head.files.map(_.path))
      val srcKeys = src.select(keys.map(col).toIndexedSeq: _*).distinct()
      val byName = head.files.map(f => fileBasename(f.path) -> f.path).toMap
      val touched = snap
        .select((col("__bname") +: keys.map(col)).toIndexedSeq: _*)
        .join(srcKeys, keys, "left_semi")
        .select("__bname").distinct()
        .collect().map(r => byName(r.getString(0))).toSet
      val kept =
        if (touched.isEmpty) src // pure insert: no target row matches
        else appliedRead(spark, head, touched.toSeq)
          .join(srcKeys, keys, "left_anti")
          .unionByName(src)
      // appends that land mid-merge rebase cleanly ONLY if they cannot
      // collide with the merged keys — else the table would end up with
      // duplicate keys, the very nondeterminism the source audit
      // rejects. installRewrite probes appended files' key columns.
      installRewrite(kept, dir, head, touched, txn, Some((srcKeys, keys)))
    }
  }

  /** Stage `rewritten` and swap it for `removed`'s manifest entries in
    * one optimistic commit: on every attempt the CURRENT head is
    * re-resolved, concurrent appends rebase (their entries carry
    * over), and a head that no longer references one of `removed`
    * fails with `ConcurrentModificationException` — the rewrite was
    * computed against files that are no longer the truth.
    *
    * `appendKeyConflict = Some((srcKeys, keyCols))` additionally
    * validates, per attempt, that files APPENDED since `base` contain
    * none of the given keys (reading only the appended files' key
    * columns — bounded work): a key-overlapping append rebased under a
    * merge would leave duplicate keys, so it raises instead. Predicate
    * rewrites (delete/compaction) pass None — an append landing
    * mid-operation is simply newer data under snapshot isolation.
    */
  private[graft] def installRewrite(
      rewritten: DataFrame, dir: String, base: Manifest,
      removed: Set[String], txn: Option[String],
      appendKeyConflict: Option[(DataFrame, Seq[String])] = None,
      clearDeletes: Boolean = false,
      op: Option[String] = None): Long = {
    val stage = s"$dir/data/c-${java.util.UUID.randomUUID()}"
    rewritten.write.parquet(stage)
    installStagedRewrite(rewritten.sparkSession, stage, rewritten.schema,
      dir, base, removed, txn, appendKeyConflict, clearDeletes, op)
  }

  /** The publish half of [[installRewrite]] for an ALREADY-staged
    * rewrite — also the commit path of the V2 copy-on-write row-level
    * operations (SQL UPDATE / MERGE INTO), whose executors stage the
    * replacement files directly.
    */
  private[sources] def installStagedRewrite(
      spark: SparkSession, stage: String, schema: StructType,
      dir: String, base: Manifest,
      removed: Set[String], txn: Option[String],
      appendKeyConflict: Option[(DataFrame, Seq[String])] = None,
      clearDeletes: Boolean = false,
      op: Option[String] = None): Long = {
    val newFiles = collectStats(spark, stage, base.track, schema)
    val basePaths = base.files.map(_.path).toSet
    var committed = -1L
    while (committed < 0) {
      val headV = latestVersion(dir).getOrElse(
        throw new java.util.ConcurrentModificationException(s"table $dir vanished mid-commit"))
      val cur = manifest(dir, Some(headV))
      // the rewrite was computed through base's APPLIED view — base's
      // pending tombstones are already folded into the staged files, so
      // they carry forward (or clear, for a full rewrite) safely. A
      // merge-on-read delete that landed SINCE then is a different
      // story: it would either be dropped or stop applying to the
      // rewritten files (their fresh seq outranks the tombstone's) —
      // both silently resurrect rows, so refuse and let the caller
      // re-read and recompute
      if (cur.deleteFiles != base.deleteFiles || cur.deleteKeys != base.deleteKeys ||
        cur.posDeleteFiles != base.posDeleteFiles)
        throw new java.util.ConcurrentModificationException(
          "concurrent merge-on-read delete landed mid-rewrite; " +
            "recompute against the new head (or materializeDeletes)")
      val curPaths = cur.files.map(_.path).toSet
      val gone = removed.filterNot(curPaths)
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"concurrent writer removed ${gone.size} file(s) this rewrite depends on " +
            s"(e.g. ${gone.head}); re-read the head and retry")
      appendKeyConflict.foreach { case (srcKeys, keyCols) =>
        val appended = cur.files.map(_.path).filterNot(basePaths)
        if (appended.nonEmpty) {
          val clash = readData(spark, cur, appended)
            .select(keyCols.map(col).toIndexedSeq: _*)
            .join(srcKeys, keyCols, "left_semi")
            .limit(1).count()
          if (clash > 0)
            throw new java.util.ConcurrentModificationException(
              "concurrent append contains key(s) this merge replaces; rebasing would " +
                "duplicate keys — re-read the head and retry the merge")
        }
      }
      val v = cur.version + 1
      // a concurrent schema change (add/rename/drop) would make the
      // staged rewrite's bytes stale — its files were written under
      // base's schema and name era
      if (cur.schemaJson != base.schemaJson || cur.renames != base.renames)
        throw new java.util.ConcurrentModificationException(
          s"$dir: schema evolved (v${base.version} -> v${cur.version}) while this " +
            "rewrite was staged; re-plan against the new head")
      val m = Manifest(v, Some(cur.version), txn, base.schemaJson, base.track,
        cur.files.filterNot(f => removed(f.path)) ++ newFiles.map(_.copy(seq = v)),
        if (clearDeletes) Nil else base.deleteKeys,
        if (clearDeletes) Nil else base.deleteFiles,
        if (clearDeletes) Nil else base.posDeleteFiles,
        op = op,
        renames = cur.renames, retired = cur.retired,
        trackSince = cur.trackSince, props = cur.props,
        retypes = cur.retypes)
      committed = tryInstall(dir, m)
    }
    committed
  }

  /** Stats for every part file of a freshly staged commit dir: one
    * Spark job over the NEW data grouped by `input_file_name()` —
    * min/max string-cast per tracked column plus the row count. The
    * same one-scan build cost as [[graft.operators.ZoneMap.build]],
    * paid once per commit, amortized over every later pruned read.
    * The schema is pinned so a staging dir with ZERO part files (a
    * rewrite that deleted every row of its input) reads as an empty
    * frame instead of failing schema inference.
    */
  private def collectStats(
      spark: SparkSession, stage: String, track: Seq[String],
      schema: StructType): Seq[FileEntry] = {
    // min/max on the NATIVE type, serialized only for storage — casting
    // first would rank lexicographically ("999" > "1250") and commit
    // envelopes that under/overstate numeric columns, making pruning
    // silently wrong on mixed-width values
    val aggs = track.flatMap { c =>
      // a track entry may be a TRANSFORM spec (hidden partitioning):
      // envelopes are collected on the transformed value, keyed by the
      // spec string, typed by the transform's output
      val spec = TrackSpec.parse(c)
      val srcType = schema(spec.source).dataType
      val tcol = TrackSpec.column(spec, srcType)
      val ot = TrackSpec.outputType(spec, srcType)
      Seq(statString(min(tcol), ot).as(s"min_$c"),
        statString(max(tcol), ot).as(s"max_$c"))
    } :+ count(lit(1)).as("rows")
    spark.read.schema(schema).parquet(stage)
      .groupBy(input_file_name().as("path"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        FileEntry(
          stripScheme(r.getAs[String]("path")),
          r.getAs[Long]("rows"),
          track.map(c => c -> Option(r.getAs[String](s"min_$c"))).toMap,
          track.map(c => c -> Option(r.getAs[String](s"max_$c"))).toMap)
      }.toSeq
  }

  /** Serialize one stat value for the manifest. Instant-semantics
    * timestamps store EPOCH MICROS, not a formatted string: `CAST(ts
    * AS STRING)` renders the session-LOCAL wall clock with no zone
    * qualifier, so a reader session in another zone — or a stat
    * landing in the fall-back DST hour of the SAME zone — would
    * reconstruct a shifted envelope and silently skip live files.
    * Micros are zone-free and order-preserving (unix_micros is
    * monotone, so micros-of-min == min-of-micros). TIMESTAMP_NTZ and
    * DATE render zone-independently already and stay on the generic
    * cast.
    */
  private def statString(c: Column, dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case org.apache.spark.sql.types.TimestampType => unix_micros(c).cast("string")
    case _ => c.cast("string")
  }

  /** The inverse: a stored stat string back to a comparable Column of
    * the tracked column's type.
    */
  private[graft] def statColumn(s: Column, dt: org.apache.spark.sql.types.DataType): Column =
    dt match {
      case org.apache.spark.sql.types.TimestampType => timestamp_micros(s.cast("long"))
      case _ => s.cast(dt)
    }

  /** Atomically claim version `m.version`: write the file-list SEGMENTS
    * first (immutable side files, unreferenced until the head lands),
    * stage the head JSON beside the manifest dir, then HARD-LINK it
    * onto the versioned name — link(2) is the POSIX atomic
    * create-if-absent (it fails with EEXIST when another writer already
    * owns the name, and the linked name appears with its full content,
    * never torn). An `ATOMIC_MOVE` here would be WRONG: POSIX rename(2)
    * silently REPLACES an existing target, so a lost race would
    * overwrite the winner's manifest and drop its files from the table.
    * FileAlreadyExists means another writer won; the freshly written
    * segment (referenced only by OUR failed head) is deleted and the
    * caller re-reads the head and retries. Returns the version on
    * success, -1 on lost race. Filesystems without hard links fall back
    * to O_EXCL create (still exclusive; visibility of the write itself
    * is then the documented weaker guarantee).
    */
  private[graft] def tryInstall(dir: String, m: Manifest): Long =
    tryInstallAs(dir, m, manifestName(m.version), reuseParentSegs = true)

  /** [[tryInstall]] under an explicit head file name — the branch
    * install path. Branch heads never reuse parent segments
    * (segment-composition lookups are keyed by MAIN version numbers,
    * which a branch parent is not), so each branch commit writes one
    * full segment: O(branch snapshot) manifest bytes per staged commit,
    * the documented trade for keeping the main lineage machinery
    * untouched — and exactly what lets [[fastForward]] publish branch
    * heads as main heads verbatim.
    */
  private def tryInstallAs(
      dir: String, m: Manifest, fileName: String, reuseParentSegs: Boolean): Long = {
    val (segNames, freshSeg) =
      writeSegments(dir, if (reuseParentSegs) m else m.copy(parent = None))
    val bytes = renderHead(m, segNames).getBytes("UTF-8")
    val tmp = java.nio.file.Paths.get(dir, "_manifests", s".tmp-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.write(tmp, bytes)
    val dst = java.nio.file.Paths.get(dir, "_manifests", fileName)
    try {
      try java.nio.file.Files.createLink(dst, tmp)
      catch {
        case _: UnsupportedOperationException =>
          java.nio.file.Files.write(dst, bytes, java.nio.file.StandardOpenOption.CREATE_NEW)
      }
      java.nio.file.Files.deleteIfExists(tmp)
      m.version
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        java.nio.file.Files.deleteIfExists(tmp)
        // the fresh segment is referenced only by OUR failed head: delete
        // the file AND its cache entry (writeSegments populated it
        // eagerly) — under sustained contention a stale entry per lost
        // race would otherwise accumulate for files that no longer exist
        freshSeg.foreach { p =>
          java.nio.file.Files.deleteIfExists(p)
          segCache.remove((dir, p.getFileName.toString)): Unit
        }
        -1L
    }
  }

  /** Beyond this many live segments a commit folds them into one —
    * amortized-O(1) per commit (the vector-doubling argument), keeping
    * snapshot resolution O(segments ≤ 64 reads), all but the newest
    * served from the immutable-segment cache.
    */
  private val MaxSegments = 64

  /** The manifest-list indirection (Iceberg's manifest-file split): the
    * per-version FILE LIST lives in immutable `seg-<uuid>.json` side
    * files; the head stores only segment NAMES. A commit reuses every
    * parent segment whose files all survive and writes ONE new segment
    * holding the leftover (new + surviving-from-broken-segment)
    * entries — so an append to a million-file table writes O(batch)
    * manifest bytes, not O(total files), and readers re-parse only the
    * segments they have not already cached (file entries are immutable
    * per path, which is what makes both reuses sound). Returns the
    * head's segment name list and the newly created segment (for
    * lost-race cleanup).
    */
  private def writeSegments(dir: String, m: Manifest): (Seq[String], Option[java.nio.file.Path]) = {
    if (m.files.isEmpty) return (Nil, None)
    val parentSegs: Seq[(String, Seq[String])] =
      m.parent.toSeq.flatMap(v => segComposition(dir, v))
    val present = m.files.map(_.path).toSet
    val intact = parentSegs.filter { case (_, paths) => paths.forall(present) }
    val keep = if (intact.size >= MaxSegments) Nil else intact
    val covered = keep.iterator.flatMap(_._2).toSet
    val leftover = m.files.filterNot(f => covered(f.path))
    if (leftover.isEmpty) (keep.map(_._1), None)
    else {
      val name = s"seg-${java.util.UUID.randomUUID()}.json"
      val p = java.nio.file.Paths.get(dir, "_manifests", name)
      java.nio.file.Files.write(p, renderSegment(leftover).getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      segCache.put((dir, name), leftover)
      (keep.map(_._1) :+ name, Some(p))
    }
  }

  // ---------------------------------------------------------------- read

  /** The table at `asOf` (or the head): resolve ONE manifest, read
    * exactly its files with the committed schema pinned. An empty file
    * list (fresh [[replace]] of an empty frame) still yields the right
    * schema.
    */
  def snapshot(spark: SparkSession, dir: String, asOf: Option[Long] = None): DataFrame = {
    val m = manifest(dir, asOf)
    appliedRead(spark, m, m.files.map(_.path))
  }

  /** The applied read of an ALREADY-RESOLVED manifest — what the
    * injected [[graft.plans.MorApplyRewrite]] plans from. The relation
    * may hold a BRANCH head (`spark.graft.wap.branch` read routing)
    * whose version number is not a main snapshot, so re-resolving by
    * version would either miss it or bind a different snapshot; using
    * the resolved manifest is also immune to an expiry racing the
    * analysis.
    */
  private[graft] def appliedSnapshot(spark: SparkSession, m: Manifest): DataFrame =
    appliedRead(spark, m, m.files.map(_.path))

  /** Read `paths` of snapshot `m` with pending merge-on-read deletes
    * APPLIED: each data row carries its file's sequence number, each
    * delete row its delete file's, and one anti join on the delete keys
    * (with the `deleteSeq > fileSeq` scoping condition) removes exactly
    * the tombstoned rows. Sequence lookups ride the globally-unique
    * part-file NAME (paths embed a per-job UUID), so no
    * `input_file_name()` scheme normalization is needed. With no
    * pending deletes this is the plain pinned-schema read.
    */
  private[sources] def appliedRead(
      spark: SparkSession, m: Manifest, paths: Seq[String]): DataFrame =
    appliedReadWithFile(spark, m, paths).drop("__bname")

  /** [[appliedRead]] keeping each row's source-file basename as
    * `__bname` — the attribution column the CoW delete/merge/update
    * probes use to find touched files THROUGH the applied view (after
    * the MoR anti joins, `input_file_name()` is no longer creditable
    * to a scan). Positional tombstones (exact (basename, row-index)
    * pairs) apply first via one anti join; equality tombstones apply
    * on top via the sequence-scoped [[morJoin]].
    */
  private def appliedReadWithFile(
      spark: SparkSession, m: Manifest, paths: Seq[String]): DataFrame = {
    if (!m.hasMorDeletes || paths.isEmpty)
      return readData(spark, m, paths, withBname = true)
    val base = posApplied(spark, m, paths)
    if (m.deleteFiles.isEmpty) base
    else morJoin(spark, m, base, paths, "left_anti").drop("__fname", "__fseq")
  }

  /** `paths` with POSITIONAL tombstones applied (and `__bname`
    * attached): the parquet reader's own `_metadata.row_index` names
    * each physical row — the same mechanism Iceberg v2 positional
    * deletes and Delta deletion vectors key on — and one anti join on
    * (basename, row-index) removes exactly the named rows. Tombstones
    * referencing files no longer in `paths` match nothing (dead weight
    * until [[materializeDeletes]] folds them).
    */
  private def posApplied(spark: SparkSession, m: Manifest, paths: Seq[String]): DataFrame = {
    val withB = readData(spark, m, paths,
      withBname = true, withRowIdx = m.posDeleteFiles.nonEmpty)
    if (m.posDeleteFiles.isEmpty) withB
    else {
      val dels = spark.read.schema(posDeleteSchema)
        .parquet(m.posDeleteFiles.map(_.path): _*)
      withB.join(dels,
          col("__bname") === col("__dbname") && col("__rowidx") === col("__dpos"),
          "left_anti")
        .drop("__rowidx")
    }
  }

  private val posDeleteSchema = StructType(Seq(
    StructField("__dbname", StringType), StructField("__dpos", LongType)))

  private[sources] def fileBasename(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** The rows/files pending deletes still REMOVE from `paths` — the
    * bounded probe [[materializeDeletes]] plans its rewrite set from.
    */
  /** The files of `paths` that still hold a tombstoned row under
    * EITHER delete kind — the bounded probe [[materializeDeletes]]
    * plans its rewrite set from: equality-doomed files via one
    * key-semi morJoin, positional-doomed files straight from the
    * tombstones' distinct target names (O(files) metadata).
    */
  private def morDoomedPaths(spark: SparkSession, m: Manifest, paths: Seq[String]): Set[String] = {
    if (!m.hasMorDeletes || paths.isEmpty) return Set.empty
    val byName = paths.map(p => fileBasename(p) -> p).toMap
    val eqDoomed: Set[String] =
      if (m.deleteFiles.isEmpty) Set.empty
      else {
        val base = readData(spark, m, paths, withBname = true)
        morJoin(spark, m, base, paths, "left_semi")
          .select("__bname").distinct()
          .collect().map(_.getString(0)).toSet
      }
    val posDoomed: Set[String] =
      if (m.posDeleteFiles.isEmpty) Set.empty
      else spark.read.schema(posDeleteSchema)
        .parquet(m.posDeleteFiles.map(_.path): _*)
        .select("__dbname").distinct()
        .collect().map(_.getString(0)).toSet
    (eqDoomed ++ posDoomed).flatMap(byName.get)
  }

  /** Every row the manifest's pending MoR tombstones doom, as
    * (file-basename -> ASCENDING row positions) — positions are
    * parquet `_metadata.row_index`, the row's ordinal within its file.
    * This is the row-side form of the applied read: a consumer that
    * must serve raw file bytes and subtract tombstoned rows itself
    * (the STREAMING initial snapshot, whose DSv2 batch cannot swap in
    * the anti-join plan) filters each affected file by its position
    * set while reading sequentially.
    *
    * Scale shape: probes AFFECTED files only ([[morDoomedPaths]] — one
    * bounded metadata/semi-join pass), then one semi-join per delete
    * kind over those files. The collected set is the number of
    * tombstoned ROWS, capped at `cap`: above it this returns None —
    * the driver never silently holds an unbounded doom set — and the
    * caller degrades to the DISTRIBUTED applied-read plan (the
    * streaming source stages the applied snapshot once, under its
    * checkpoint, and serves those files as batch 0).
    */
  private[sources] def morDoomedPositions(
      spark: SparkSession, m: Manifest, cap: Long): Option[Map[String, Array[Long]]] = {
    if (!m.hasMorDeletes) return Some(Map.empty)
    val affected = morDoomedPaths(spark, m, m.files.map(_.path)).toSeq
    if (affected.isEmpty) return Some(Map.empty)
    val withB = readData(spark, m, affected, withBname = true, withRowIdx = true)
    val pos =
      if (m.posDeleteFiles.isEmpty) None
      else {
        val dels = spark.read.schema(posDeleteSchema)
          .parquet(m.posDeleteFiles.map(_.path): _*)
        Some(withB.join(dels,
          col("__bname") === col("__dbname") && col("__rowidx") === col("__dpos"),
          "left_semi").select(col("__bname"), col("__rowidx")))
      }
    val eq =
      if (m.deleteFiles.isEmpty) None
      else Some(morJoin(spark, m, withB, affected, "left_semi")
        .select(col("__bname"), col("__rowidx")))
    val doomed = (pos.toSeq ++ eq.toSeq).reduce(_ unionByName _).distinct()
    val probe = math.min(cap + 1L, Int.MaxValue.toLong).toInt
    val rows = doomed.limit(probe).collect()
    // over the cap, the positions don't fit driver-side: return None and
    // let the caller degrade to the DISTRIBUTED applied-read plan (the
    // streaming source stages the applied snapshot instead of refusing)
    if (rows.length > cap) None
    else Some(rows.groupBy(_.getString(0))
      .map { case (b, rs) => b -> rs.map(_.getLong(1)).sorted })
  }

  /** Sequence-scoped EQUALITY-delete join against an already-built
    * `base` frame (data columns + `__bname` — possibly with positional
    * tombstones pre-applied): each data row carries its file's
    * sequence number, each delete row its delete file's, and the join
    * condition is key equality AND `deleteSeq > fileSeq`.
    */
  private def morJoin(
      spark: SparkSession, m: Manifest, base: DataFrame,
      paths: Seq[String], joinType: String): DataFrame = {
    // seq maps are LOCAL relations with real size stats, and their
    // joins carry explicit broadcast hints: they are O(files) /
    // O(delete files) metadata rows at ANY table size. An RDD-backed
    // frame here would report UNKNOWN (≈infinite) size and flip the
    // planner into broadcasting the FACT side of the __bname join — a
    // plan that works at spec scale and broadcasts the whole table at
    // 100 TB (caught by a plan audit of this very join).
    def seqDf(rows: Seq[(String, Long)], nameCol: String, seqCol: String) = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        rows.map { case (n, s) => org.apache.spark.sql.Row(n, s) }.asJava,
        StructType(Seq(StructField(nameCol, StringType), StructField(seqCol, LongType))))
    }
    val schema = DataFrameSchema.fromJson(m.schemaJson)
    val keySchema = StructType(m.deleteKeys.map(k => schema(k)))
    val fileNameExpr = element_at(split(input_file_name(), "/"), -1)
    val pathSet = paths.toSet
    val fSeq = seqDf(m.files.filter(f => pathSet(f.path))
      .map(f => fileBasename(f.path) -> f.seq), "__fname", "__fseq")
    val dSeq = seqDf(m.deleteFiles.map(d => fileBasename(d.path) -> d.seq), "__dname", "__dseq")
    val dels = spark.read.schema(keySchema).parquet(m.deleteFiles.map(_.path): _*)
      .withColumn("__dname", fileNameExpr)
      .join(broadcast(dSeq), "__dname")
      .select((m.deleteKeys.map(k => col(k).as(s"__d_$k")) :+ col("__dseq")): _*)
    val withSeq = base.join(broadcast(fSeq), col("__bname") === col("__fname"))
    val cond = m.deleteKeys.map(k => withSeq(k) === dels(s"__d_$k")).reduce(_ && _) &&
      dels("__dseq") > withSeq("__fseq")
    withSeq.join(dels, cond, joinType)
  }

  /** Scan rows with `lo <= trackedCol <= hi` opening only files whose
    * committed envelope overlaps — the file-granular
    * [[graft.operators.ZoneMap.prunedScan]]. The envelope comparison
    * runs as a tiny local-relation Spark job (O(files) rows) so string
    * stats cast back with engine semantics; files with a null envelope
    * (no non-null tracked value) can never match BETWEEN and are
    * skipped. The exact predicate still filters the survivors:
    * bit-identical to the plain filter, mechanically safe.
    */
  def prunedScan(
      spark: SparkSession, dir: String, trackedCol: String,
      lo: Column, hi: Column, asOf: Option[Long] = None): DataFrame = {
    val m = manifest(dir, asOf)
    val live = overlappingPaths(spark, m, trackedCol, lo, hi)
    val spec = TrackSpec.parse(trackedCol)
    val srcType = DataFrameSchema.fromJson(m.schemaJson)(spec.source).dataType
    appliedRead(spark, m, live)
      .filter(TrackSpec.column(spec, srcType).between(lo, hi))
  }

  /** Register the table (at `asOf` or the head) as a temp view — the
    * one-liner that makes the whole format SQL-first: filters typed
    * against the view prune files automatically through the injected
    * [[graft.plans.ManifestSkipping]] optimizer rule.
    */
  def createView(spark: SparkSession, dir: String, name: String, asOf: Option[Long] = None): Unit =
    snapshot(spark, dir, asOf).createOrReplaceTempView(name)

  /** The file paths a pruned scan would open — the skipping proof
    * surface for specs and plan audits (compare against the snapshot's
    * full list).
    */
  def livePaths(spark: SparkSession, dir: String, trackedCol: String, lo: Column, hi: Column): Seq[String] =
    overlappingPaths(spark, manifest(dir, None), trackedCol, lo, hi)

  /** Envelope-overlap resolution as ONE tiny local-relation job over
    * O(files) metadata rows — string stats cast back to the column's
    * committed type with Spark's own cast, the exact inverse of how
    * [[collectStats]] produced them. Null envelopes (no non-null
    * tracked value in the file) fail the comparison and are skipped:
    * BETWEEN can never match them.
    */
  private def overlappingPaths(
      spark: SparkSession, m: Manifest, trackedCol: String,
      lo: Column, hi: Column): Seq[String] = {
    require(m.track.contains(trackedCol),
      s"column $trackedCol is not tracked (tracked: ${m.track.mkString(", ")})")
    if (m.files.isEmpty) return Seq.empty
    // track-spec evolution: files predating the column's entry have no
    // envelope — they scan unconditionally (correct, never pruned)
    val (covered, uncovered) = m.files.partition(f => m.envelopeCovers(trackedCol, f.seq))
    if (covered.isEmpty) return m.files.map(_.path)
    val typ = {
      val spec = TrackSpec.parse(trackedCol)
      TrackSpec.outputType(spec,
        DataFrameSchema.fromJson(m.schemaJson)(spec.source).dataType)
    }
    // rename-alias walk (the graft.plans.ManifestSkipping.Stats lookup):
    // a pre-rename file's envelope is keyed under the name its bytes
    // carry — without the walk such files would read as null-envelope
    // and silently over-prune
    val statKeys = trackedCol +: renameAliases(m).getOrElse(trackedCol, Nil)
    def stat(mp: Map[String, Option[String]]): String =
      statKeys.collectFirst { case k if mp.contains(k) => mp(k) }.flatten.orNull
    val entries = spark.createDataFrame(
      // a column absent from the maps is a null envelope: JSON object
      // rendering omits None-valued keys, so absence and None coincide
      spark.sparkContext.parallelize(covered.map(f =>
        org.apache.spark.sql.Row(f.path, stat(f.mins), stat(f.maxs))), 1),
      StructType(Seq(
        StructField("path", StringType), StructField("mn", StringType), StructField("mx", StringType))))
    entries
      .filter(statColumn(col("mx"), typ) >= lo && statColumn(col("mn"), typ) <= hi)
      .collect().map(_.getString(0)).toIndexedSeq ++ uncovered.map(_.path)
  }

  /** Current column name -> its HISTORICAL names (newest first) from
    * `m`'s rename chain — the alias walk planning-time stat lookups
    * use ([[graft.plans.ManifestSkipping.Stats]]). Empty for the
    * overwhelmingly common never-renamed table.
    */
  private[graft] def renameAliases(m: Manifest): Map[String, Seq[String]] = {
    if (m.renames.isEmpty) return Map.empty
    val base = DataFrameSchema.fromJson(m.schemaJson).fieldNames.flatMap { cur =>
      val hist = Seq.newBuilder[String]
      var n = cur
      m.renames.reverseIterator.foreach(st => if (st.to == n) { n = st.from; hist += n })
      val h = hist.result()
      if (h.isEmpty) None else Some(cur -> h)
    }.toMap
    // hidden partitioning across renames: a TRANSFORM spec's envelopes
    // are keyed by the rendered spec string, so files predating a
    // SOURCE rename carry keys rendered with the old source name — the
    // alias chain extends key-wise (days(event_ts) -> [days(ts)]).
    // Retired names never reuse, so a key alias is as unambiguous as a
    // column alias.
    val transformKeys = m.track.flatMap { t =>
      val spec = TrackSpec.parse(t)
      if (spec.isInstanceOf[TrackSpec.Identity]) None
      else base.get(spec.source).map { olds =>
        spec.key -> olds.map(o => TrackSpec.withSource(spec, o).key)
      }
    }.toMap
    base ++ transformKeys
  }

  /** Read data `paths` of `m` with its rename chain applied, optionally
    * attaching the applied-read machinery's attribution columns
    * (`__bname` file basename, `__rowidx` parquet row index — the
    * latter must be captured INSIDE each scan because `_metadata` does
    * not survive a projection). Files group by rename ERA — how many
    * steps postdate their entry sequence; each era reads under the
    * names its bytes physically carry and projects back to the
    * committed schema. One extra scan per LIVE era (bounded by the
    * number of renames, not files); tables that never renamed take the
    * single-scan fast path unchanged.
    */
  private[sources] def readData(
      spark: SparkSession, m: Manifest, paths: Seq[String],
      withBname: Boolean = false, withRowIdx: Boolean = false): DataFrame = {
    def finish(df: DataFrame): DataFrame = {
      val b = if (withBname)
        df.withColumn("__bname", element_at(split(input_file_name(), "/"), -1))
      else df
      if (withRowIdx) b.withColumn("__rowidx", col("_metadata.row_index")) else b
    }
    if (m.renames.isEmpty || paths.isEmpty)
      return finish(readFiles(spark, m.schemaJson, paths))
    val schema = DataFrameSchema.fromJson(m.schemaJson)
    val seqOf = m.files.map(f => f.path -> f.seq).toMap
    val steps = m.renames.sortBy(_.v)
    def eraOf(p: String): Int = {
      // unknown files (not in m.files — e.g. a concurrent append probe)
      // are always fresher than every step
      val s = seqOf.getOrElse(p, Long.MaxValue)
      steps.indexWhere(_.v > s) match { case -1 => steps.length; case i => i }
    }
    val extras = (if (withBname) Seq(col("__bname")) else Nil) ++
      (if (withRowIdx) Seq(col("__rowidx")) else Nil)
    val parts = paths.groupBy(eraOf).toSeq.sortBy(_._1).map { case (i, ps) =>
      val applicable = steps.drop(i)
      val eraName: Map[String, String] = schema.fieldNames.map { curName =>
        var n = curName
        applicable.reverseIterator.foreach(st => if (st.to == n) n = st.from)
        curName -> n
      }.toMap
      if (eraName.forall { case (a, b) => a == b })
        finish(readFiles(spark, m.schemaJson, ps))
      else {
        val eraSchema = StructType(schema.fields.map(f => f.copy(name = eraName(f.name))))
        finish(readFiles(spark, eraSchema.json, ps))
          .select(schema.fieldNames.toIndexedSeq.map(c => col(eraName(c)).as(c)) ++ extras: _*)
      }
    }
    parts.reduce(_.unionByName(_))
  }

  private def readFiles(spark: SparkSession, schemaJson: String, paths: Seq[String]): DataFrame = {
    val schema = DataFrameSchema.fromJson(schemaJson)
    if (paths.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(paths: _*)
  }

  // ---------------------------------------------------------------- admin

  /** Drop all but the newest `keepLast` manifests, then delete data
    * files referenced ONLY by the dropped ones. Order is crash-safe:
    * manifests go first, so a crash mid-GC leaves unreferenced files
    * (re-collectable) rather than a manifest pointing at deleted data.
    */
  def expireSnapshots(dir: String, keepLast: Int): Unit = {
    require(keepLast >= 1, "must retain at least the head snapshot")
    val vs = versions(dir).sorted
    // a tag IS the promise the snapshot stays readable — tagged
    // versions survive expiry until the tag is dropped
    val tagged = tags(dir).values.toSet
    // a registered cursor pin is an incremental consumer's base: every
    // version >= the oldest pin stays, so a lagging consumer's next
    // bounded change feed is always computable (drop the pin to release)
    val minPin = cursorPins(dir).values.minOption.getOrElse(Long.MaxValue)
    // a branch BASE stays readable while its branch lives (a commit-less
    // branch's head IS the base manifest)
    val branchBases = branches(dir).keys.flatMap(n => branchBase(dir, n)).toSet
    val drop = vs.dropRight(keepLast).filterNot(tagged).filterNot(branchBases)
      .filter(_ < minPin)
    if (drop.isEmpty) return
    val dropped = drop.map(v => manifest(dir, Some(v)))
    val droppedSegs = drop.flatMap(v => segComposition(dir, v).map(_._1)).toSet
    drop.foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_manifests", manifestName(v))): Unit)
    def allPaths(m: Manifest) =
      m.files.map(_.path) ++ m.deleteFiles.map(_.path) ++ m.posDeleteFiles.map(_.path)
    // branch heads are retention roots too: an unpublished branch's
    // snapshot (which carries its base's files) must stay readable
    val kept = (versions(dir).map(v => manifest(dir, Some(v))) ++
        branches(dir).keys.map(n => branchManifest(dir, n)))
      .flatMap(allPaths).toSet
    dropped.flatMap(allPaths).distinct
      .filterNot(kept)
      .foreach(p => java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)): Unit)
    // segment files referenced only by dropped heads fold away too
    // (heads went first, so a crash here leaves re-collectable orphans,
    // never a head pointing at a deleted segment)
    val keptSegs = versions(dir).flatMap(v => segComposition(dir, v).map(_._1)).toSet
    droppedSegs.filterNot(keptSegs).foreach { n =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "_manifests", n))
      segCache.remove((dir, n)): Unit
    }
    // commit dirs whose every DATA file is gone fold away — only then
    // are their write markers (_SUCCESS, .crc) swept; live dirs are
    // untouched
    Option(new java.io.File(dir, "data").listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .foreach { d =>
        val children = Option(d.listFiles()).getOrElse(Array.empty)
        val dataLeft = children.exists(f =>
          !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        if (!dataLeft) deleteRec(d)
      }
  }

  /** Reclaim commit dirs never referenced by ANY manifest — crashed or
    * abandoned staging — but only past `minAgeMs`, so a concurrent
    * writer's staged-but-not-yet-committed data is never swept (the
    * default grace far exceeds any commit loop).
    */
  def vacuum(dir: String, minAgeMs: Long = 24L * 3600 * 1000): Unit = {
    // Mark the TOP-LEVEL data/ segment of every referenced file, not its
    // immediate parent: streaming epochs nest one level deeper
    // (data/c-stream-<uuid>/e<epoch>/part-*.parquet), and marking only
    // "e<epoch>" would leave "c-stream-<uuid>" looking unreferenced.
    val dataRoot = java.nio.file.Paths.get(dir, "data").toAbsolutePath.normalize
    val referenced = (versions(dir).map(v => manifest(dir, Some(v))) ++
        branches(dir).keys.map(n => branchManifest(dir, n)))
      .flatMap { m =>
        m.files.map(_.path) ++ m.deleteFiles.map(_.path) ++ m.posDeleteFiles.map(_.path)
      }
      .flatMap { p =>
        val ap = java.nio.file.Paths.get(p).toAbsolutePath.normalize
        if (ap.startsWith(dataRoot) && ap.getNameCount > dataRoot.getNameCount + 1)
          Some(ap.getName(dataRoot.getNameCount).toString)
        else Option(ap.getParent).map(_.getFileName.toString)
      }
      .toSet
    val cutoff = System.currentTimeMillis() - minAgeMs
    Option(new java.io.File(dir, "data").listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !referenced(d.getName) && d.lastModified() < cutoff)
      .foreach(deleteRec)
  }

  /** The MAINTENANCE CADENCE as one call — what a production table
    * runs on a schedule beside live ingest (Iceberg's
    * rewrite-data-files + expire-snapshots maintenance jobs, and the
    * role the reference's 5-minute sync DAG plays for its Postgres
    * tables): (1) [[materializeDeletes]] repays the merge-on-read read
    * debt, (2) [[compactSmall]] folds the small files streaming ingest
    * accumulates into range-clustered replacements, (3)
    * [[expireSnapshots]] drops history past `keepLast` (tagged
    * versions survive), (4) [[vacuum]] reclaims crashed staging past
    * the grace age. Order matters and is fixed: materialize first so
    * compaction sees clean files; expiry after both so their inputs
    * stay readable mid-run; vacuum last. Each step is the same
    * conflict-checked commit it is standalone, so maintenance racing
    * ingest rebases or fails loudly, never corrupts. CONTENT-NEUTRAL
    * by construction — the head's visible rows are identical before
    * and after (q207 hash-gates exactly that).
    */
  def maintain(
      spark: SparkSession, dir: String, clusterBy: String,
      smallFileRows: Long = 100000L, targetFiles: Int = 8,
      keepLast: Int = 3, vacuumMinAgeMs: Long = 24L * 3600 * 1000,
      /** Non-empty = re-cluster the WHOLE table by the z-order of these
        * columns instead of the incremental small-file binpack (a full
        * rewrite — schedule accordingly); [[zorderCompact]].
        */
      zorderBy: Seq[String] = Nil): Long = {
    materializeDeletes(spark, dir)
    val v =
      if (zorderBy.nonEmpty) zorderCompact(spark, dir, zorderBy, numFiles = targetFiles)
      else compactSmall(spark, dir, clusterBy, smallFileRows, targetFiles)
    expireSnapshots(dir, keepLast)
    vacuum(dir, vacuumMinAgeMs)
    math.max(v, latestVersion(dir).getOrElse(v))
  }

  /** O(metadata) table statistics from the manifest alone — no data
    * read: (version, file count, row count). The commit-time `rows`
    * per file makes COUNT(*)-class questions (and planner sizing
    * decisions) free, the way a warehouse's catalog stats do. With
    * pending merge-on-read deletes the row count is an UPPER BOUND
    * (tombstoned rows still sit in their files until
    * [[materializeDeletes]]); exact counts come from the snapshot.
    */
  def tableStats(dir: String, asOf: Option[Long] = None): (Long, Long, Long) = {
    val m = manifest(dir, asOf)
    (m.version, m.files.size.toLong, m.files.map(_.rows).sum)
  }

  // ---------------------------------------------------------------- refs

  /** Create an immutable named TAG for a retained snapshot (Iceberg's
    * tag refs): `snapshot(..., asOf = resolveTag(...))`, the catalog's
    * `VERSION AS OF 'name'`, and audit trails all resolve the name to
    * the pinned version. Tags are create-if-absent (atomic, racing
    * creators converge on whoever landed) and immutable — re-pointing
    * a name would silently change what an audit referenced, so a taken
    * name with a DIFFERENT version fails loudly; [[dropTag]] removes
    * one. [[expireSnapshots]] refuses to expire a tagged version: a
    * tag is precisely the promise that the snapshot stays readable.
    */
  def tag(dir: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"tag names are [A-Za-z0-9_-]+: '$name'")
    // mirror of createBranch's reverse check: tags and branches share
    // one name space, and VERSION AS OF resolves tags FIRST — a tag
    // created over a live branch's name would silently shadow the
    // branch and duplicate the name in the $refs meta table
    require(branchBase(dir, name).isEmpty,
      s"'$name' is already a branch of $dir; tags and branches share the name space")
    require(versions(dir).contains(version),
      s"cannot tag absent/expired version $version of $dir")
    val p = java.nio.file.Paths.get(dir, "_manifests", s"ref-$name.json")
    val body = s"""{"name":"$name","version":$version}"""
    try java.nio.file.Files.write(p, body.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW): Unit
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val existing = resolveTag(dir, name)
        require(existing.contains(version),
          s"tag '$name' already pins v=${existing.getOrElse(-1L)}; tags are immutable " +
            "(drop it first if the old name must move)")
    }
  }

  def resolveTag(dir: String, name: String): Option[Long] = {
    val p = java.nio.file.Paths.get(dir, "_manifests", s"ref-$name.json")
    if (!java.nio.file.Files.exists(p)) None
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmt: Formats = DefaultFormats
      Some((JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        \ "version").extract[Long])
    }
  }

  def dropTag(dir: String, name: String): Boolean =
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_manifests", s"ref-$name.json"))

  def tags(dir: String): Map[String, Long] =
    Option(new java.io.File(dir, "_manifests").listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case n if n.startsWith("ref-") && n.endsWith(".json") =>
        n.stripPrefix("ref-").stripSuffix(".json") }
      .flatMap(n => resolveTag(dir, n).map(n -> _)).toMap

  // ---------------------------------------------------------------- branches

  /** WRITABLE BRANCHES — the mutable sibling of a [[tag]], and the
    * staging half of write-audit-publish at multi-commit granularity
    * (Iceberg's `spark.wap.branch` workflow): [[createBranch]] forks a
    * name at a retained version, [[commitToBranch]] appends SHADOW
    * snapshots visible only through the branch (main readers never see
    * them), audits run against [[branchSnapshot]] — exactly the bytes
    * that would publish — and [[fastForward]] publishes the whole
    * audited chain onto main atomically-per-commit, metadata-only.
    *
    * Representation: branch heads are ordinary [[Manifest]]s stored
    * under branch-scoped file names (`b-<name>-NNN.json`), their
    * version numbers continuing the MAIN sequence from the branch
    * base. Fast-forward therefore only hard-links each branch head to
    * its main name IN ORDER (create-if-absent): if main moved past the
    * base meanwhile, the first link collides and the publish fails
    * loudly with main untouched beyond already-linked prefix commits —
    * each of which is a complete, correct main snapshot (the chain
    * property), so a crashed publish RESUMES idempotently (identical
    * bytes pass the collision check). Ancestor-only by construction:
    * exactly Iceberg's `fast_forward` contract. Branch heads hold full
    * file lists, so [[expireSnapshots]]/[[vacuum]] treat them as
    * retention roots and an unpublished branch never loses data.
    */
  def createBranch(dir: String, name: String, from: Option[Long] = None): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"branch names are [A-Za-z0-9_-]+: '$name'")
    require(resolveTag(dir, name).isEmpty,
      s"'$name' is already a tag of $dir; tags and branches share the name space")
    val base = from.getOrElse(latestVersion(dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $dir")))
    require(versions(dir).contains(base),
      s"cannot branch from absent/expired version $base of $dir")
    val p = java.nio.file.Paths.get(dir, "_manifests", branchMarker(name))
    try java.nio.file.Files.write(p,
      s"""{"name":"$name","base":$base}""".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW): Unit
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        require(branchBase(dir, name).contains(base),
          s"branch '$name' already exists at base ${branchBase(dir, name).getOrElse(-1L)}")
    }
    base
  }

  private def branchMarker(name: String) = s"branch-$name.json"
  private def branchManifestName(name: String, v: Long) = f"b-$name-$v%012d.json"

  private def branchBase(dir: String, name: String): Option[Long] = {
    val p = java.nio.file.Paths.get(dir, "_manifests", branchMarker(name))
    if (!java.nio.file.Files.exists(p)) None
    else {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmt: Formats = DefaultFormats
      Some((JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        \ "base").extract[Long])
    }
  }

  /** Branch-local snapshot versions, newest last. Digit-tail parse: a
    * branch name may itself contain '-' ("a" prefixes "a-b"), so only
    * a remainder that IS the zero-padded version tail belongs here.
    */
  private def branchVersions(dir: String, name: String): Seq[Long] =
    Option(new java.io.File(dir, "_manifests").listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case n if n.startsWith(s"b-$name-") && n.endsWith(".json") =>
        n.stripPrefix(s"b-$name-").stripSuffix(".json") }
      .filter(rest => rest.nonEmpty && rest.forall(_.isDigit))
      .map(_.toLong).toSeq

  /** Every branch, resolved to its head version (= base when no commit
    * has landed on it yet).
    */
  def branches(dir: String): Map[String, Long] =
    Option(new java.io.File(dir, "_manifests").listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case n if n.startsWith("branch-") && n.endsWith(".json") =>
        n.stripPrefix("branch-").stripSuffix(".json") }
      .flatMap { n =>
        branchBase(dir, n).map(b => n -> branchVersions(dir, n).maxOption.getOrElse(b))
      }.toMap

  /** The branch head as a [[Manifest]] (the base's manifest before the
    * first branch commit).
    */
  def branchManifest(dir: String, name: String): Manifest = {
    val base = branchBase(dir, name).getOrElse(throw new IllegalArgumentException(
      s"no branch '$name' of $dir (branches: ${branches(dir).keys.mkString(", ")})"))
    branchVersions(dir, name).maxOption match {
      case Some(v) =>
        val p = java.nio.file.Paths.get(dir, "_manifests", branchManifestName(name, v))
        parse(dir, new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      case None => manifest(dir, Some(base))
    }
  }

  /** Read the branch head (pending merge-on-read tombstones applied,
    * rename eras grouped — the same applied read main snapshots get).
    */
  def branchSnapshot(spark: SparkSession, dir: String, name: String): DataFrame = {
    val m = branchManifest(dir, name)
    appliedRead(spark, m, m.files.map(_.path))
  }

  /** Append `df` to the BRANCH: a shadow snapshot main readers never
    * see, version-numbered as the main commit it would become on
    * [[fastForward]]. Same staging, stats, evolution validation, and
    * optimistic install as a main append; racing branch writers both
    * land exactly once.
    */
  def commitToBranch(df: DataFrame, dir: String, name: String, track: Seq[String]): Long = {
    val spark = df.sparkSession
    require(branchBase(dir, name).isDefined,
      s"no branch '$name' of $dir — createBranch first")
    val missing = track.map(TrackSpec.parse(_).source).filterNot(df.schema.fieldNames.contains)
    require(missing.isEmpty, s"tracked column(s) ${missing.mkString(", ")} not in schema")
    requireNoReservedColumns(df.schema)
    val stage = s"$dir/data/c-${java.util.UUID.randomUUID()}"
    df.write.parquet(stage)
    installStagedToBranch(spark, dir, name, df.schema, track, stage)
  }

  /** Branch-side twin of [[installStaged]]: commit ALREADY-STAGED files
    * as the branch's next shadow snapshot — the SQL write path's
    * `spark.graft.wap.branch` routing lands here (the V2 BatchWrite
    * stages via executor tasks, then the driver commits onto the
    * branch instead of main). Same appendOnto evolution validation and
    * optimistic install as [[commitToBranch]]; `txn` gives streaming
    * epochs their replay marker ([[committedTxnOnBranch]]).
    */
  private[sources] def installStagedToBranch(
      spark: SparkSession, dir: String, name: String, schema: StructType,
      track: Seq[String], stage: String, txn: Option[String] = None): Long = {
    require(branchBase(dir, name).isDefined,
      s"no branch '$name' of $dir — createBranch (CALL graft.system.create_branch) first")
    var statsSchema: StructType = null
    var newFiles: Seq[FileEntry] = null
    var committed = -1L
    while (committed < 0) {
      val parent = branchManifest(dir, name)
      // under the branch head's types — see installStaged
      val forStats = upcastForStats(schema, parent.schemaJson)
      if (statsSchema != forStats) {
        newFiles = collectStats(spark, stage, track, forStats)
        statsSchema = forStats
      }
      val v = parent.version + 1
      val m = appendOnto(parent, schema, track, newFiles, v, txn)
      committed = tryInstallAs(dir, m, branchManifestName(name, v), reuseParentSegs = false)
    }
    committed
  }

  /** Has `txn` already committed on this branch? The branch-side half
    * of the streaming replay check — a publish moves the txn-carrying
    * manifests onto MAIN, so callers consult [[committedTxn]] too.
    *
    * Installed branch manifests are immutable per (dir, name, version),
    * so the txn marker memoizes after one parse — the same discipline
    * as [[txnCache]] on main. Without it, a streaming write's
    * per-epoch replay check re-parses EVERY branch manifest (each
    * O(files) JSON) and a long staging run goes quadratic in epoch
    * count; with it, the steady state is O(branch length) in-memory
    * lookups plus ONE parse for the single new version per epoch.
    */
  private val branchTxnCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long), Option[String]]()
  private[sources] def committedTxnOnBranch(
      dir: String, name: String, txn: String): Option[Long] =
    branchVersions(dir, name).sorted.reverse.find { v =>
      branchTxnCache.computeIfAbsent((dir, name, v), { case (_, _, _) =>
        val p = java.nio.file.Paths.get(dir, "_manifests", branchManifestName(name, v))
        parse(dir, new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).txn
      }).contains(txn)
    }

  /** Row-level copy-on-write DELETE ON A BRANCH — [[delete]]'s
    * semantics computed against the BRANCH head and committed as the
    * branch's next shadow snapshot: the staging half of an
    * audit-then-publish correction that REMOVES rows, and the producer
    * of the rewrite commits [[cherryPick]] can replay onto a diverged
    * main. Same applied-view probe (composes with pending merge-on-read
    * tombstones), same file-granular swap, same optimistic install as
    * the main-side triad; main readers never see it until publish.
    */
  def deleteOnBranch(spark: SparkSession, dir: String, name: String, cond: Column): Long = {
    val head = branchManifest(dir, name)
    val snap = appliedReadWithFile(spark, head, head.files.map(_.path))
    require(
      snap.select(cond.as("__c")).queryExecution.analyzed.expressions.forall(_.deterministic),
      s"delete condition must be deterministic: $cond")
    val byName = head.files.map(f => fileBasename(f.path) -> f.path).toMap
    val touched = snap.where(cond)
      .select("__bname").distinct()
      .collect().map(r => byName(r.getString(0))).toSet
    if (touched.isEmpty) return head.version
    val kept = appliedRead(spark, head, touched.toSeq)
      .where(coalesce(!cond, lit(true)))
    installRewriteOnBranch(spark, dir, name, head, touched, kept)
  }

  /** Row-level copy-on-write UPDATE ON A BRANCH — [[update]]'s
    * semantics committed as the branch's next shadow snapshot (same
    * determinism and type pins, same applied-view probe).
    */
  def updateOnBranch(
      spark: SparkSession, dir: String, name: String, cond: Column,
      set: Map[String, Column]): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val head = branchManifest(dir, name)
    val schema = DataFrameSchema.fromJson(head.schemaJson)
    val missing = set.keys.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"SET column(s) ${missing.mkString(", ")} not in schema")
    val snap = appliedReadWithFile(spark, head, head.files.map(_.path))
    val exprs = cond +: set.values.toSeq
    require(
      snap.select(exprs.zipWithIndex.map { case (c, i) => c.as(s"__e$i") }: _*)
        .queryExecution.analyzed.expressions.forall(_.deterministic),
      "update condition and SET expressions must be deterministic")
    val probe = snap.select(set.map { case (k, c) => c.as(k) }.toSeq: _*)
    set.keys.foreach { k =>
      val got = probe.schema(k).dataType
      require(got == schema(k).dataType,
        s"SET retypes column $k: ${schema(k).dataType} -> $got; cast the expression")
    }
    val byName = head.files.map(f => fileBasename(f.path) -> f.path).toMap
    val touched = snap.where(cond)
      .select("__bname").distinct()
      .collect().map(r => byName(r.getString(0))).toSet
    if (touched.isEmpty) return head.version
    val updatedCols = schema.fieldNames.map { f =>
      set.get(f) match {
        case Some(e) => when(coalesce(cond, lit(false)), e).otherwise(col(f)).as(f)
        case None => col(f)
      }
    }
    val rewritten = appliedRead(spark, head, touched.toSeq)
      .select(updatedCols.toIndexedSeq: _*)
    installRewriteOnBranch(spark, dir, name, head, touched, rewritten)
  }

  /** Keyed MERGE (upsert) ON A BRANCH — [[merge]]'s semantics committed
    * as the branch's next shadow snapshot: matched keys replace, new
    * keys append, only touched files rewrite, and the same key-unique/
    * non-null source audits apply. A concurrent branch APPEND whose
    * keys collide with the merged set conflicts exactly as on main.
    */
  def mergeOnBranch(
      source: DataFrame, dir: String, name: String, keys: Seq[String]): Long = {
    val spark = source.sparkSession
    val head = branchManifest(dir, name)
    val schema = DataFrameSchema.fromJson(head.schemaJson)
    require(source.columns.sorted.sameElements(schema.fieldNames.sorted),
      s"source columns [${source.columns.sorted.mkString(", ")}] must match table " +
        s"columns [${schema.fieldNames.sorted.mkString(", ")}]")
    val src = source.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    src.schema.fields.zip(schema.fields).foreach { case (s, t) =>
      require(s.dataType == t.dataType,
        s"source column ${s.name}: ${s.dataType} != table's ${t.dataType}")
    }
    val badKeys = keys.filterNot(schema.fieldNames.contains)
    require(badKeys.isEmpty, s"key column(s) ${badKeys.mkString(", ")} not in schema")
    val nullKeyCond = keys.map(col(_).isNull).reduce(_ || _)
    val Array(nSrc, nKeys, nNull) = src
      .agg(count(lit(1)), count_distinct(struct(keys.map(col).toIndexedSeq: _*)),
        count(when(nullKeyCond, 1)))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    require(nNull == 0, s"merge source has $nNull row(s) with a null key; keys must be non-null")
    require(nSrc == nKeys,
      s"merge source has ${nSrc - nKeys} duplicate-key row(s); keys must be unique")
    val snap = appliedReadWithFile(spark, head, head.files.map(_.path))
    val srcKeys = src.select(keys.map(col).toIndexedSeq: _*).distinct()
    val byName = head.files.map(f => fileBasename(f.path) -> f.path).toMap
    val touched = snap
      .select((col("__bname") +: keys.map(col)).toIndexedSeq: _*)
      .join(srcKeys, keys, "left_semi")
      .select("__bname").distinct()
      .collect().map(r => byName(r.getString(0))).toSet
    if (touched.isEmpty) return commitToBranch(src, dir, name, head.track)
    val kept = appliedRead(spark, head, touched.toSeq)
      .join(srcKeys, keys, "left_anti")
      .unionByName(src)
    installRewriteOnBranch(spark, dir, name, head, touched, kept,
      appendKeyConflict = Some((srcKeys, keys)))
  }

  /** Stage `rewritten` and swap it for `touched`'s entries as the
    * branch's next shadow snapshot — the branch-scoped twin of
    * [[installRewrite]]/[[installStagedRewrite]] with the same
    * mid-rewrite conflict rules: a tombstone delta, a removed
    * dependency file, or (for merges) a racing branch append colliding
    * with the merged keys all refuse rather than silently resurrect or
    * duplicate rows.
    */
  private def installRewriteOnBranch(
      spark: SparkSession, dir: String, name: String, head: Manifest,
      touched: Set[String], rewritten: DataFrame,
      appendKeyConflict: Option[(DataFrame, Seq[String])] = None): Long = {
    val stage = s"$dir/data/c-${java.util.UUID.randomUUID()}"
    rewritten.write.parquet(stage)
    installStagedRewriteOnBranch(spark, stage,
      DataFrameSchema.fromJson(head.schemaJson), dir, name, head, touched,
      appendKeyConflict)
  }

  /** [[installRewriteOnBranch]] for ALREADY-STAGED files — the SQL
    * row-level write path's branch route: while
    * `spark.graft.wap.branch` is set, a plain `UPDATE`/`MERGE INTO`/
    * rewrite-`DELETE`'s V2 write stages its replacement files through
    * executor tasks and the driver commits them here, swapping exactly
    * the files the operation's (branch-resolved) scan planned — the
    * branch twin of [[installStagedRewrite]], with the same
    * mid-rewrite conflict refusals.
    */
  private[sources] def installStagedRewriteOnBranch(
      spark: SparkSession, stage: String, schema: StructType,
      dir: String, name: String, head: Manifest, touched: Set[String],
      appendKeyConflict: Option[(DataFrame, Seq[String])] = None): Long = {
    val newFiles = collectStats(spark, stage, head.track, schema)
    val basePaths = head.files.map(_.path).toSet
    var committed = -1L
    while (committed < 0) {
      val cur = branchManifest(dir, name)
      if (cur.deleteFiles != head.deleteFiles || cur.posDeleteFiles != head.posDeleteFiles ||
        cur.deleteKeys != head.deleteKeys)
        throw new java.util.ConcurrentModificationException(
          s"concurrent merge-on-read delete landed on branch '$name' mid-rewrite; recompute")
      val gone = touched.filterNot(cur.files.map(_.path).toSet)
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"concurrent branch writer removed ${gone.size} file(s) this rewrite depends on")
      appendKeyConflict.foreach { case (srcKeys, keyCols) =>
        val appended = cur.files.map(_.path).filterNot(basePaths)
        if (appended.nonEmpty) {
          val clash = readData(spark, cur, appended)
            .select(keyCols.map(col).toIndexedSeq: _*)
            .join(srcKeys, keyCols, "left_semi")
            .limit(1).count()
          if (clash > 0)
            throw new java.util.ConcurrentModificationException(
              "concurrent branch append collides with the merged keys; recompute")
        }
      }
      val v = cur.version + 1
      committed = tryInstallAs(dir, cur.copy(
        version = v, parent = Some(cur.version), txn = None, op = None,
        files = cur.files.filterNot(f => touched(f.path)) ++ newFiles.map(_.copy(seq = v))),
        branchManifestName(name, v), reuseParentSegs = false)
    }
    committed
  }

  /** Publish the branch onto main: link each branch head to its main
    * name in version order (create-if-absent), then drop the branch.
    * Ancestor-only — if main advanced past the branch base, the first
    * collision aborts loudly (rebase by re-branching); a collision with
    * IDENTICAL bytes is our own crashed publish resuming and continues.
    * Metadata-only: no data file moves. Returns the new main head.
    *
    * The ancestor check is POSITIONAL, not collision-based: main's
    * CURRENT head must be the branch base (or sit inside this branch's
    * own already-published prefix — the crash-resume case, verified by
    * byte equality). Collisions alone cannot carry the safety proof:
    * [[expireSnapshots]] keeps the branch base as a retention root but
    * may delete main versions ABOVE it, so a stale branch's heads
    * could otherwise link into the expired-history hole without ever
    * colliding — silently resurrecting mid-history version numbers
    * with a conflicting parent chain while the real head stays newer
    * and the audited commits never become visible.
    */
  def fastForward(dir: String, name: String): Long = {
    val bvs = branchVersions(dir, name).sorted
    val base = branchBase(dir, name).getOrElse(throw new IllegalArgumentException(
      s"no branch '$name' of $dir — nothing to fast-forward"))
    val mainHead = latestVersion(dir).getOrElse(-1L)
    if (bvs.nonEmpty && mainHead != base) {
      // crash-resume: our own earlier publish linked a prefix of this
      // branch and died — main's head must BE one of this branch's
      // versions with identical bytes; anything else is divergence
      val resuming = bvs.contains(mainHead) && {
        val b = java.nio.file.Paths.get(dir, "_manifests", branchManifestName(name, mainHead))
        val m = java.nio.file.Paths.get(dir, "_manifests", manifestName(mainHead))
        java.nio.file.Files.exists(m) && java.util.Arrays.equals(
          java.nio.file.Files.readAllBytes(b), java.nio.file.Files.readAllBytes(m))
      }
      if (!resuming)
        throw new IllegalStateException(
          s"fast-forward of branch '$name': main head is v$mainHead but the branch " +
            s"base is v$base (main advanced past the branch base); re-branch from " +
            "the new head and re-stage — fast-forward is ancestor-only, and " +
            "link-time collisions cannot prove ancestry once intermediate main " +
            "versions have been expired")
    }
    bvs.foreach { v =>
      val src = java.nio.file.Paths.get(dir, "_manifests", branchManifestName(name, v))
      val dst = java.nio.file.Paths.get(dir, "_manifests", manifestName(v))
      val bytes = java.nio.file.Files.readAllBytes(src)
      try {
        try java.nio.file.Files.createLink(dst, src)
        catch {
          case _: UnsupportedOperationException =>
            java.nio.file.Files.write(dst, bytes, java.nio.file.StandardOpenOption.CREATE_NEW)
        }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          if (!java.util.Arrays.equals(bytes, java.nio.file.Files.readAllBytes(dst)))
            throw new IllegalStateException(
              s"fast-forward of branch '$name': main already has a DIFFERENT v$v " +
                "(main advanced past the branch base); re-branch from the new head " +
                "and re-stage — fast-forward is ancestor-only, main is untouched " +
                "beyond the already-published prefix")
        // identical bytes: our own crashed publish — continue
      }
    }
    dropBranch(dir, name, publishedUpTo = bvs.maxOption)
    latestVersion(dir).getOrElse(-1L)
  }

  /** CHERRY-PICK one branch commit onto main (Iceberg's
    * cherrypick_snapshot): metadata-only (entries and their committed
    * stats are shared, no data copies), onto a main that may have
    * DIVERGED since the branch point — the rebase-one-commit escape
    * hatch when [[fastForward]] refuses. Two replayable shapes:
    *
    *  - APPEND commits: the files added over the branch parent enter
    *    main as a fresh append (seq = the new main version).
    *  - COPY-ON-WRITE REWRITE commits (delete/update/merge computed on
    *    the branch): the removed→added file swap replays IFF main
    *    still carries every rewritten file live and no merge-on-read
    *    delete landed since the branch point; anything else is a
    *    genuine file-set conflict and refuses loudly (Iceberg's
    *    replace-snapshot cherry-pick conflict rule).
    *
    * Tombstone-carrying and schema-evolving rewrite commits refuse (a
    * tombstone's sequence scoping cannot replay under a fresh
    * version). The branch itself is untouched.
    */
  def cherryPick(dir: String, name: String, branchVersion: Long): Long = {
    val base = branchBase(dir, name).getOrElse(throw new IllegalArgumentException(
      s"no branch '$name' of $dir"))
    require(branchVersions(dir, name).contains(branchVersion),
      s"branch '$name' has no commit v$branchVersion " +
        s"(has: ${branchVersions(dir, name).sorted.mkString(", ")})")
    val bv = {
      val p = java.nio.file.Paths.get(dir, "_manifests", branchManifestName(name, branchVersion))
      parse(dir, new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    }
    val bParent =
      if (branchVersions(dir, name).contains(branchVersion - 1)) {
        val p = java.nio.file.Paths.get(
          dir, "_manifests", branchManifestName(name, branchVersion - 1))
        parse(dir, new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      } else manifest(dir, Some(base))
    val parentPaths = bParent.files.map(_.path).toSet
    val removed = bParent.files.map(_.path).filterNot(bv.files.map(_.path).toSet).toSet
    val added = bv.files.filterNot(f => parentPaths(f.path))
    // tombstone-carrying commits still refuse: equality tombstones are
    // sequence-scoped against the BRANCH's file seqs, and replaying
    // them under a fresh main version would re-scope what they apply to
    require(bv.deleteFiles == bParent.deleteFiles &&
      bv.posDeleteFiles == bParent.posDeleteFiles && bv.deleteKeys == bParent.deleteKeys,
      s"cherry-pick of '$name' v$branchVersion: the commit adds or changes " +
        "merge-on-read tombstones, whose sequence scoping cannot replay onto a " +
        "diverged head; fastForward the branch, or re-apply the delete on main")
    require(removed.isEmpty || bv.schemaJson == bParent.schemaJson,
      s"cherry-pick of '$name' v$branchVersion: a rewrite commit that also evolves " +
        "the schema does not cherry-pick; fastForward the branch instead")
    val schema = DataFrameSchema.fromJson(bv.schemaJson)
    var committed = -1L
    while (committed < 0) {
      val head = manifest(dir, None)
      require(bv.track == head.track,
        s"cherry-pick of '$name' v$branchVersion: branch track spec " +
          s"[${bv.track.mkString(", ")}] differs from main's [${head.track.mkString(", ")}]")
      val v = head.version + 1
      if (removed.isEmpty)
        // append commit: the added entries replay onto the head as a
        // fresh append (the original contract)
        committed = tryInstall(dir, appendOnto(head, schema, head.track, added, v, txn = None))
      else {
        // COPY-ON-WRITE REWRITE REPLAY (Iceberg's cherry-pick of a
        // replace snapshot): the commit swapped `removed` for `added`.
        // Replaying onto a diverged head is sound iff main still
        // carries every rewritten file LIVE (main's divergence never
        // touched them) and no merge-on-read delete landed since the
        // branch point (it would apply to `removed` but not to the
        // fresh-seq replacements — silent row resurrection). Anything
        // else is a GENUINE file-set conflict and refuses loudly.
        val headPaths = head.files.map(_.path).toSet
        val gone = removed.filterNot(headPaths)
        if (gone.nonEmpty) throw new IllegalStateException(
          s"cherry-pick of '$name' v$branchVersion: ${gone.size} file(s) this " +
            s"rewrite replaces are no longer live on main (e.g. ${gone.head} — " +
            "concurrently rewritten, compacted, or deleted); genuine file-set " +
            "conflict — re-apply the operation against the current head")
        if (head.deleteFiles != bParent.deleteFiles ||
          head.posDeleteFiles != bParent.posDeleteFiles ||
          head.deleteKeys != bParent.deleteKeys) throw new IllegalStateException(
          s"cherry-pick of '$name' v$branchVersion: a merge-on-read delete landed " +
            "on main since the branch point; its tombstones would not apply to the " +
            "replayed rewrite's fresh-sequence files — materializeDeletes first, " +
            "or re-apply the operation against the current head")
        validateEvolution(head, schema, head.track)
        committed = tryInstall(dir, head.copy(
          version = v, parent = Some(head.version), txn = None, op = None,
          files = head.files.filterNot(f => removed(f.path)) ++ added.map(_.copy(seq = v))))
      }
    }
    committed
  }

  /** Remove the branch: its marker, heads, and (for an UNPUBLISHED
    * drop) the segments and data files only its heads referenced.
    */
  def dropBranch(dir: String, name: String): Boolean = dropBranch(dir, name, None)

  private def dropBranch(dir: String, name: String, publishedUpTo: Option[Long]): Boolean = {
    val base = branchBase(dir, name)
    if (base.isEmpty) return false
    val bvs = branchVersions(dir, name)
    val heads = bvs.map(v => branchManifestName(name, v))
    // segments/files referenced only by the dropped heads fold away —
    // unless they were just published to main (fastForward), where the
    // linked main heads still reference them
    if (publishedUpTo.isEmpty && bvs.nonEmpty) {
      val dropped = heads.map(h => parse(dir,
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "_manifests", h)), "UTF-8")))
      val droppedSegs = branchSegNames(dir, name).toSet
      val keptM = versions(dir).map(v => manifest(dir, Some(v))) ++
        branches(dir).keys.filterNot(_ == name).map(n => branchManifest(dir, n))
      def allPaths(m: Manifest) =
        m.files.map(_.path) ++ m.deleteFiles.map(_.path) ++ m.posDeleteFiles.map(_.path)
      val kept = keptM.flatMap(allPaths).toSet
      // heads first (crash leaves re-collectable orphans, never a head
      // pointing at deleted data)
      heads.foreach(h => java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "_manifests", h)): Unit)
      dropped.flatMap(allPaths).distinct.filterNot(kept).foreach(p =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)): Unit)
      // branch segments are written fresh per branch commit and only
      // their own heads reference them; with the heads gone they fold
      val keptSegs = (versions(dir).flatMap(v => segComposition(dir, v).map(_._1)) ++
        branches(dir).keys.filterNot(_ == name)
          .flatMap(n => branchSegNames(dir, n))).toSet
      droppedSegs.filterNot(keptSegs).foreach { n =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, "_manifests", n))
        segCache.remove((dir, n)): Unit
      }
    } else {
      heads.foreach(h => java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "_manifests", h)): Unit)
    }
    // a later createBranch of the SAME name can reuse version numbers;
    // the memoized txn markers would lie for the new incarnation
    branchTxnCache.keySet.removeIf(k => k._1 == dir && k._2 == name)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_manifests", branchMarker(name)))
  }

  private def branchSegNames(dir: String, name: String): Seq[String] =
    branchVersions(dir, name).flatMap { v =>
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmt: Formats = DefaultFormats
      val p = java.nio.file.Paths.get(dir, "_manifests", branchManifestName(name, v))
      if (!java.nio.file.Files.exists(p)) Nil
      else (JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        \ "segments").extractOpt[Seq[String]].getOrElse(Nil)
    }

  /** Register (or advance) a named CURSOR PIN at `version` — the
    * movable sibling of a [[tag]], playing the role Iceberg branch
    * retention / Delta's CDF retention window play for incremental
    * consumers: [[expireSnapshots]] retains every version >= the oldest
    * registered pin, so a lagging [[graft.streaming.ChangeFeedStream]]
    * consumer's base snapshot is never expired out from under it and
    * its bounded change feed stays computable. Monotonic (max wins) and
    * torn-write-safe by the same create-if-absent marker scheme the
    * stream's own cursor files use; a consumer that unsubscribes drops
    * its pin ([[dropCursorPin]]) so retention can move again.
    */
  def pinCursor(dir: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"cursor pin names are [A-Za-z0-9_-]+: '$name'")
    require(version >= 0, s"cursor pin version must be >= 0: $version")
    new java.io.File(dir, "_manifests").mkdirs()
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_manifests", f"pin-$name-$version%012d.json"),
      s"""{"name":"$name","version":$version}""".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW): Unit
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    // retire superseded markers (keep the newest two so a torn delete
    // can never leave zero markers for a still-registered consumer)
    pinVersions(dir, name).sorted.dropRight(2).foreach(old =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "_manifests", f"pin-$name-$old%012d.json")): Unit)
  }

  /** Every registered cursor pin, resolved to its newest marker. */
  def cursorPins(dir: String): Map[String, Long] =
    Option(new java.io.File(dir, "_manifests").listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case n if n.startsWith("pin-") && n.endsWith(".json") =>
        val body = n.stripPrefix("pin-").stripSuffix(".json")
        val cut = body.lastIndexOf('-')
        body.substring(0, cut) -> body.substring(cut + 1).toLong }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }

  private def pinVersions(dir: String, name: String): Seq[Long] =
    Option(new java.io.File(dir, "_manifests").listFiles()).getOrElse(Array.empty)
      .map(_.getName)
      .collect { case n if n.startsWith(s"pin-$name-") && n.endsWith(".json") =>
        n.stripPrefix(s"pin-$name-").stripSuffix(".json") }
      // names may themselves contain '-' ("a" prefixes "a-b"), so only a
      // remainder that IS the 12-digit zero-padded version tail belongs
      // to this name — anything else is a longer name's marker
      .filter(rest => rest.nonEmpty && rest.forall(_.isDigit))
      .map(_.toLong).toSeq

  /** Unregister a consumer's pin (all its markers); retention moves on. */
  def dropCursorPin(dir: String, name: String): Boolean = {
    val vs = pinVersions(dir, name)
    vs.foreach(v => java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_manifests", f"pin-$name-$v%012d.json")): Unit)
    vs.nonEmpty
  }

  /** The newest version committed at or before `micros` (epoch
    * microseconds) — the resolution behind SQL `TIMESTAMP AS OF`.
    * Commit times are the heads' stamped wall clocks (legacy heads
    * fall back to file mtime) MONOTONIZED over the version order, so
    * a clock regression between commits can never make time travel
    * non-monotonic (Delta applies the same clamp). Fails loudly when
    * `micros` predates the first retained commit.
    */
  def versionAt(dir: String, micros: Long): Long = {
    val vs = versions(dir).sorted
    require(vs.nonEmpty, s"no committed snapshot under $dir")
    var best = -1L
    var running = Long.MinValue
    vs.foreach { v =>
      val ts = manifest(dir, Some(v)).commitTsMicros.getOrElse {
        java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(dir, "_manifests", manifestName(v))).toMillis * 1000L
      }
      running = math.max(running, ts)
      if (running <= micros) best = v
    }
    require(best >= 0,
      s"TIMESTAMP AS OF $micros predates the first retained commit of $dir")
    best
  }

  def versions(dir: String): Seq[Long] =
    Option(new java.io.File(dir, "_manifests").listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(n => n.startsWith("m-") && n.endsWith(".json"))
      .map(_.stripPrefix("m-").stripSuffix(".json").toLong).toSeq

  def latestVersion(dir: String): Option[Long] = versions(dir).maxOption

  // ---------------------------------------------------------------- manifest io

  private def manifestName(v: Long): String = f"m-$v%012d.json"

  def manifest(dir: String, asOf: Option[Long]): Manifest = {
    val v = asOf.getOrElse(latestVersion(dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $dir")))
    val p = java.nio.file.Paths.get(dir, "_manifests", manifestName(v))
    require(java.nio.file.Files.exists(p),
      s"snapshot v=$v of $dir does not exist or was expired (live: ${versions(dir).sorted.mkString(", ")})")
    parse(dir, new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
  }

  /** Manifests are immutable per (dir, version), so the txn marker is
    * memoized after one parse — without this, every txn-carrying
    * streaming commit re-parses EVERY retained manifest (each
    * O(total files) JSON) and ingest goes quadratic in batch count
    * until expiry. Entries are a ~50-byte Option per version; even a
    * week of one-minute batches is a few MB, reclaimed with the JVM.
    */
  private val txnCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Option[String]]()

  private[sources] def committedTxn(dir: String, txn: String): Option[Long] =
    versions(dir).sorted.reverse.find { v =>
      txnCache.computeIfAbsent((dir, v), _ => manifest(dir, Some(v)).txn).contains(txn)
    }

  private def renderHead(m: Manifest, segNames: Seq[String]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    def delJson(ds: Seq[DeleteEntry]) = ds.map(d =>
      ("path" -> d.path) ~ ("rows" -> d.rows) ~ ("seq" -> d.seq))
    JsonMethods.compact(JsonMethods.render(
      ("version" -> m.version) ~ ("parent" -> m.parent) ~ ("txn" -> m.txn) ~
        ("ts" -> System.currentTimeMillis() * 1000L) ~
        ("schema" -> m.schemaJson) ~ ("track" -> m.track) ~
        ("segments" -> segNames) ~
        ("deleteKeys" -> m.deleteKeys) ~ ("deleteFiles" -> delJson(m.deleteFiles)) ~
        ("posDeleteFiles" -> delJson(m.posDeleteFiles)) ~ ("op" -> m.op) ~
        ("renames" -> m.renames.map(r =>
          ("v" -> r.v) ~ ("from" -> r.from) ~ ("to" -> r.to))) ~
        ("retired" -> m.retired) ~
        ("trackSince" -> m.trackSince) ~
        ("props" -> m.props) ~
        ("retypes" -> m.retypes.map(r =>
          ("v" -> r.v) ~ ("column" -> r.column) ~ ("from" -> r.fromJson)))))
  }

  private def renderSegment(entries: Seq[FileEntry]): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(entries.map { f =>
      ("path" -> f.path) ~ ("rows" -> f.rows) ~ ("seq" -> f.seq) ~
        ("mins" -> f.mins.map { case (k, v) => k -> v }) ~
        ("maxs" -> f.maxs.map { case (k, v) => k -> v })
    }))
  }

  /** Immutable-segment entry cache: a (dir, segment-name) pair is
    * written exactly once (CREATE_NEW), so entries never go stale; a
    * snapshot resolution re-parses only segments it has not seen.
    * Evicted for a dir when [[expireSnapshots]] drops segments there.
    */
  private val segCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[FileEntry]]()

  private def entriesOf(j: org.json4s.JValue): Seq[FileEntry] = {
    import org.json4s._
    implicit val fmt: Formats = DefaultFormats
    j.extract[Seq[JValue]].map { f =>
      FileEntry(
        (f \ "path").extract[String],
        (f \ "rows").extract[Long],
        (f \ "mins").extract[Map[String, Option[String]]],
        (f \ "maxs").extract[Map[String, Option[String]]],
        (f \ "seq").extractOpt[Long].getOrElse(0L))
    }
  }

  private def loadSegment(dir: String, name: String): Seq[FileEntry] =
    segCache.computeIfAbsent((dir, name), { _ =>
      import org.json4s.jackson.JsonMethods
      val p = java.nio.file.Paths.get(dir, "_manifests", name)
      entriesOf(JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")))
    })

  /** Segment composition (name -> member paths) of version `v`'s head,
    * Nil for a legacy inline-file-list head — the reuse map
    * [[writeSegments]] diffs a child commit against.
    */
  private def segComposition(dir: String, v: Long): Seq[(String, Seq[String])] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val p = java.nio.file.Paths.get(dir, "_manifests", manifestName(v))
    if (!java.nio.file.Files.exists(p)) return Nil
    val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    (j \ "segments").extractOpt[Seq[String]].getOrElse(Nil)
      .map(n => n -> loadSegment(dir, n).map(_.path))
  }

  private def parse(dir: String, s: String): Manifest = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(s)
    // new heads carry segment names; legacy heads carry the inline
    // "files" list — both resolve to the same in-memory Manifest, so a
    // pre-segmentation table reads (and upgrades on its next commit)
    // with no migration step. JNothing is matched explicitly: json4s
    // extracts an ABSENT key to Some(Nil) for collection types, which
    // would silently read a legacy table as empty.
    val files = (j \ "segments") match {
      case JNothing => entriesOf(j \ "files")
      case seg => seg.extract[Seq[String]].flatMap(loadSegment(dir, _))
    }
    Manifest(
      (j \ "version").extract[Long],
      (j \ "parent").extractOpt[Long],
      (j \ "txn").extractOpt[String],
      (j \ "schema").extract[String],
      (j \ "track").extract[Seq[String]],
      files,
      (j \ "deleteKeys").extractOpt[Seq[String]].getOrElse(Nil),
      delEntries(j \ "deleteFiles"),
      delEntries(j \ "posDeleteFiles"),
      (j \ "ts").extractOpt[Long],
      (j \ "op").extractOpt[String],
      ((j \ "renames") match {
        case JNothing => Nil
        case r => r.extract[Seq[JValue]].map(s => RenameStep(
          (s \ "v").extract[Long], (s \ "from").extract[String], (s \ "to").extract[String]))
      }),
      ((j \ "retired") match {
        case JNothing => Nil
        case r => r.extract[Seq[String]]
      }),
      ((j \ "trackSince") match {
        case JNothing => Map.empty[String, Long]
        case t => t.extract[Map[String, Long]]
      }),
      ((j \ "props") match {
        case JNothing => Map.empty[String, String]
        case p => p.extract[Map[String, String]]
      }),
      ((j \ "retypes") match {
        case JNothing => Nil
        case r => r.extract[Seq[JValue]].map(s => RetypeStep(
          (s \ "v").extract[Long], (s \ "column").extract[String],
          (s \ "from").extract[String]))
      }))
  }

  private def delEntries(j: org.json4s.JValue): Seq[DeleteEntry] = {
    import org.json4s._
    implicit val fmt: Formats = DefaultFormats
    j.extractOpt[Seq[JValue]].getOrElse(Nil).map { d =>
      DeleteEntry(
        (d \ "path").extract[String],
        (d \ "rows").extract[Long],
        (d \ "seq").extract[Long])
    }
  }

  private def stripScheme(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }
}

/** Schema JSON round-trip helper (pinned in manifests so empty and
  * pruned-to-zero reads keep exact types).
  */
private[sources] object DataFrameSchema {
  def fromJson(json: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]
}
