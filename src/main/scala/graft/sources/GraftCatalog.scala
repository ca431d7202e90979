package graft.sources

import graft.plans.ManifestSkipping
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource V2 `TableCatalog` over [[ManifestTable]] directories —
  * the missing piece of Catalyst citizenship for the storage layer:
  * with `spark.sql.catalog.graft = graft.sources.GraftCatalog` (and
  * `...graft.warehouse = /path`), an analyst writes
  *
  * {{{
  *   SELECT ... FROM graft.lake.events WHERE ts BETWEEN ...
  *   SELECT ... FROM graft.lake.events VERSION AS OF 3
  * }}}
  *
  * with no `createView` call and no injected-rule dependency: the
  * catalog resolves `<warehouse>/<namespace...>/<name>` to a manifest
  * table, `VERSION AS OF` rides the engine's own time-travel syntax
  * into [[ManifestTable.manifest]], and the scan builder prunes files
  * through the SAME constraint machinery as the optimizer rule
  * ([[ManifestSkipping.survivors]] — envelopes + Bloom sidecars) before
  * delegating to Spark's own `ParquetScanBuilder`, so parquet-level
  * filter pushdown and column pruning still engage on the survivors.
  *
  * Scale shape: table resolution is one head read (O(segments)
  * metadata); planning consults O(files) driver-side stats rows and
  * hands the executor a pre-pruned file list — the Iceberg/Delta
  * catalog contract. Pending merge-on-read deletes read correctly
  * through the injected [[graft.plans.MorApplyRewrite]] resolution
  * rule (the applied-read anti joins replace the bare scan before
  * planning); only a session missing the engine's extensions refuses
  * such tables, loudly, at planning time.
  *
  * DML rides the SAME transactional surface as the API:
  *
  * {{{
  *   CREATE TABLE graft.lake.t (id BIGINT, v STRING) PARTITIONED BY (id)
  *   CREATE TABLE graft.lake.t PARTITIONED BY (ts) AS SELECT ...
  *   INSERT INTO graft.lake.t SELECT ...
  *   INSERT OVERWRITE graft.lake.t SELECT ...
  * }}}
  *
  * `INSERT INTO` is [[ManifestTable.commit]] and `INSERT OVERWRITE`
  * is [[ManifestTable.replace]] — executors write the parquet files,
  * the driver installs the manifest through the same optimistic
  * atomic-create loop as every API commit, per-file envelope stats
  * are collected at commit time, so a SQL-written table prunes
  * exactly like an API-written one, and an insert into a table with
  * pending merge-on-read deletes lands with a HIGHER sequence number
  * than the tombstones (fresh rows are never shadowed). `PARTITIONED
  * BY` here declares the stat-TRACKED columns (manifest envelopes +
  * planning-time skipping), not directory fan-out: physical
  * clustering is a layout concern ([[ManifestTable.compact]]), and a
  * 100 TB table prunes from O(files) metadata rows either way — only
  * identity transforms are accepted, loudly. `ALTER TABLE ADD
  * COLUMN` is additive evolution as a metadata-only commit; every
  * other schema surgery (drop/rename/retype) is a rewrite in
  * disguise and stays refused, pointing at the typed API.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog with ViewCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  // ---- DSv2 FunctionCatalog: the write-layout sort keys
  // (write.distribution-mode = 'zorder' resolves Expressions.apply(
  // "zorder", ...) against THIS catalog — Iceberg's sort-key mechanism)
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "zorder") ZOrderFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, "zorder")) else Array.empty

  /** Arms column DEFAULT values end-to-end: CREATE TABLE encodes them
    * into the persisted schema's field metadata (Spark's analyzer does
    * the encoding once this capability is on), INSERTs that omit a
    * defaulted column fill the WRITE default in at analysis, ADD
    * COLUMN ... DEFAULT stamps both the write default and the
    * immutable INITIAL default pre-add files read — Iceberg v3's
    * initial-default/write-default split, all pure metadata.
    */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private var catName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catName = name

  override def name(): String = catName

  /** Resolved per call (not frozen at initialize): the catalog
    * instance is cached by the session's CatalogManager, but tests and
    * multi-warehouse sessions re-point the conf at runtime.
    */
  private def warehouse: String =
    SparkSession.active.conf.getOption(s"spark.sql.catalog.$catName.warehouse")
      .getOrElse(throw new IllegalStateException(
        s"set spark.sql.catalog.$catName.warehouse to the lake root directory"))

  private def dirOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).foldLeft(warehouse)((a, b) => s"$a/$b")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = namespace.foldLeft(warehouse)((a, b) => s"$a/$b")
    Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && new java.io.File(d, "_manifests").isDirectory)
      .map(d => Identifier.of(namespace, d.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: `SELECT * FROM graft.lake.`t$history``
    // (and $files / $refs) — driver-local scans over resolved manifest
    // metadata, O(versions)/O(files) control-plane rows at any scale
    val cut = ident.name.lastIndexOf('$')
    if (cut > 0) {
      val (base, suffix) = (ident.name.substring(0, cut), ident.name.substring(cut + 1))
      val baseIdent = Identifier.of(ident.namespace(), base)
      if (GraftMetaTables.Suffixes.contains(suffix)) {
        if (!tableExists(baseIdent)) throw new NoSuchTableException(baseIdent)
        return GraftMetaTables(ident.toString, dirOf(baseIdent), suffix)
      }
    }
    load(ident, None)
  }

  /** `VERSION AS OF <v>` / `VERSION AS OF '<name>'` — the SQL spelling
    * of snapshot time travel; a non-numeric version string resolves as
    * an immutable tag ([[ManifestTable.tag]]) or, failing that, a
    * writable BRANCH head ([[ManifestTable.branchManifest]] — the
    * audit-side read of write-audit-publish staging).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    val numeric = try Some(version.toLong) catch { case _: NumberFormatException => None }
    numeric match {
      case Some(v) => load(ident, Some(v))
      case None =>
        ManifestTable.resolveTag(dir, version) match {
          case Some(v) => load(ident, Some(v))
          case None if ManifestTable.branches(dir).contains(version) =>
            GraftLakeTable(ident.toString, dir,
              ManifestTable.branchManifest(dir, version), fromBranch = Some(version))
          case None => throw new IllegalArgumentException(
            s"VERSION AS OF: '$version' is neither a numeric snapshot version, a tag, " +
              s"nor a branch of $ident (tags: " +
              s"${ManifestTable.tags(dir).keys.mkString(", ")}; branches: " +
              s"${ManifestTable.branches(dir).keys.mkString(", ")})")
        }
    }
  }

  /** `TIMESTAMP AS OF <t>` — Spark hands the literal as epoch micros;
    * resolution is the monotonized commit-clock scan
    * ([[ManifestTable.versionAt]]).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (ManifestTable.latestVersion(dir).isEmpty) throw new NoSuchTableException(ident)
    load(ident, Some(ManifestTable.versionAt(dir, timestampMicros)))
  }

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    val dir = dirOf(ident)
    if (ManifestTable.latestVersion(dir).isEmpty) throw new NoSuchTableException(ident)
    // spark.graft.wap.branch routing (Iceberg's spark.wap.branch): a
    // PLAIN read while staging serves the branch head — the audit half
    // of SQL-only write-audit-publish; explicit VERSION/TIMESTAMP AS
    // OF stays literal, and a table with no such branch reads main
    // (the knob names the staging lane, not every table on it)
    val wap = if (asOf.isEmpty)
      GraftWrites.wapBranch(SparkSession.active)
        .filter(b => ManifestTable.branches(dir).contains(b))
    else None
    wap match {
      case Some(b) =>
        GraftLakeTable(ident.toString, dir,
          ManifestTable.branchManifest(dir, b), fromBranch = Some(b))
      case None =>
        // pending merge-on-read deletes are fine here: the injected
        // resolution rule (graft.plans.MorApplyRewrite) replaces the V2
        // relation with the applied-read plan before planning; a session
        // WITHOUT the extensions fails loudly in newScanBuilder instead
        // of returning un-applied rows
        GraftLakeTable(ident.toString, dir, ManifestTable.manifest(dir, asOf))
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    ManifestTable.latestVersion(dirOf(ident)).isDefined

  private def unsupported(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"$op: not supported through the graft catalog — use the typed API " +
        "(ManifestTable), where evolution and maintenance rules are enforced")

  // ---- namespaces: directories under the warehouse that are not
  // themselves manifest tables (SHOW NAMESPACES / USE support)
  private def isTable(d: java.io.File) = new java.io.File(d, "_manifests").isDirectory

  override def listNamespaces(): Array[Array[String]] =
    Option(new java.io.File(warehouse).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !isTable(d))
      .map(d => Array(d.getName))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val base = namespace.foldLeft(warehouse)((a, b) => s"$a/$b")
    Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !isTable(d))
      .map(d => namespace :+ d.getName)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    val base = namespace.foldLeft(warehouse)((a, b) => s"$a/$b")
    if (!new java.io.File(base).isDirectory)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catName +: namespace.toSeq)
    java.util.Map.of("location", base)
  }

  override def createNamespace(
      namespace: Array[String], metadata: java.util.Map[String, String]): Unit = {
    val base = namespace.foldLeft(warehouse)((a, b) => s"$a/$b")
    if (!new java.io.File(base).mkdirs() && !new java.io.File(base).isDirectory)
      throw new IllegalStateException(s"cannot create namespace directory $base")
  }
  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    unsupported("ALTER NAMESPACE")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val base = new java.io.File(namespace.foldLeft(warehouse)((a, b) => s"$a/$b"))
    if (!base.isDirectory) false
    else {
      if (!cascade && Option(base.list()).exists(_.nonEmpty))
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      deleteRecursively(base.toPath); true
    }
  }

  /** CREATE TABLE / the DDL half of CTAS: an identity `PARTITIONED BY`
    * column becomes a stat-TRACKED column (manifest envelopes +
    * planning-time skipping — the pruning a directory layout would
    * have bought, from O(files) metadata instead of path fan-out);
    * non-identity transforms are refused loudly. Installs an EMPTY
    * version-1 snapshot via the same atomic create-if-absent as every
    * commit, so racing writers can never each think they created it.
    */
  /** `PARTITIONED BY` transforms → the manifest track spec (shared by
    * plain CREATE and the atomic staged CTAS/RTAS path).
    */
  private def trackOf(ident: Identifier, partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map { t =>
      def ref: String = {
        require(t.references.length == 1,
          s"CREATE TABLE $ident: ${t.describe()} must reference exactly one column")
        t.references.head.fieldNames.mkString(".")
      }
      def width: Int = t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] => l.value match {
          case i: Integer => i.toInt
          case l2: java.lang.Long => l2.toInt
          case other => throw new IllegalArgumentException(
            s"CREATE TABLE $ident: ${t.describe()} needs an integer argument, got $other")
        }
      }.getOrElse(throw new IllegalArgumentException(
        s"CREATE TABLE $ident: ${t.describe()} needs an integer argument"))
      t.name match {
        // identity declares the manifest's stat-tracked column; the
        // transforms declare HIDDEN partitioning (TrackSpec): envelopes
        // on the transformed value, predicates on the source derive the
        // pruning — Iceberg's date-range-prunes-without-a-day-column
        case "identity" => ref
        case "days" => s"days($ref)"
        case "hours" => s"hours($ref)"
        case "months" => s"months($ref)"
        case "years" => s"years($ref)"
        case "bucket" => s"bucket($width,$ref)"
        case "truncate" => s"truncate($width,$ref)"
        case other => throw new IllegalArgumentException(
          s"CREATE TABLE $ident: unsupported PARTITIONED BY transform '$other' " +
            s"(${t.describe()}); supported: identity columns, " +
            "years/months/days/hours(col), bucket(n, col), truncate(w, col)")
      }
    }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val track = trackOf(ident, partitions)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident.toString)
    ManifestTable.createEmpty(dirOf(ident), schema, track,
      GraftCatalog.userProps(properties))
    load(ident, None)
  }

  /** ATOMIC CTAS / RTAS ([[org.apache.spark.sql.connector.catalog.StagingTableCatalog]]
    * — the Iceberg shape): the staged table's write lands data files
    * under the (manifest-less, hence invisible) table directory, and
    * `commitStagedChanges` installs definition + data as ONE manifest
    * via the same atomic create-if-absent install every commit uses.
    * A failed or aborted CTAS leaves NO visible table (plain
    * `createTable`-then-append exposes an empty table in the gap);
    * `REPLACE TABLE ... AS SELECT` swaps definition AND content in one
    * version — the old head stays time-travelable, and the statement's
    * OWN properties/partitioning replace the old config (REPLACE
    * redefines the table; contrast INSERT OVERWRITE, which replaces
    * content but carries config).
    */
  private def staged(
      ident: Identifier, info: org.apache.spark.sql.connector.catalog.TableInfo,
      allowCreate: Boolean, allowReplace: Boolean)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (!allowReplace && tableExists(ident))
      throw new TableAlreadyExistsException(ident.toString)
    if (!allowCreate && !tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new GraftStagedTable(SparkSession.active, ident.toString, dirOf(ident),
      info.schema(), trackOf(ident, info.partitions()),
      GraftCatalog.userProps(info.properties()), allowCreate, allowReplace)
  }

  override def stageCreate(
      ident: Identifier, info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, info, allowCreate = true, allowReplace = false)

  override def stageReplace(
      ident: Identifier, info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, info, allowCreate = false, allowReplace = true)

  override def stageCreateOrReplace(
      ident: Identifier, info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    staged(ident, info, allowCreate = true, allowReplace = true)

  /** `ALTER TABLE ... ADD / RENAME / DROP COLUMN(S)`: all three are
    * METADATA-ONLY commits — zero data I/O at any table size
    * ([[ManifestTable.addColumns]] / [[ManifestTable.renameColumn]] /
    * [[ManifestTable.dropColumns]]; old snapshots keep their committed
    * schemas, old files keep their bytes, the rename chain tells
    * readers which name each file's bytes carry, and retired names can
    * never be re-added). Retypes and other schema surgery remain
    * refused — those really are rewrites.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    def top(fieldNames: Array[String], what: String): String = {
      require(fieldNames.length == 1,
        s"ALTER TABLE $ident: only top-level columns can be $what " +
          s"(got ${fieldNames.mkString(".")})")
      fieldNames.head
    }
    val adds = changes.collect {
      case a: TableChange.AddColumn =>
        require(a.isNullable,
          s"ALTER TABLE $ident: new column ${a.fieldNames.head} must be nullable " +
            "(pre-evolution files have no value for it)")
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
        Option(a.comment()).foreach(mb.putString("comment", _))
        // ADD COLUMN ... DEFAULT <v> (Iceberg v3's initial-default +
        // write-default as pure metadata): CURRENT_DEFAULT carries the
        // statement's SQL text (what future INSERTs that omit the
        // column fill in — Spark's analyzer reads it off the table
        // schema), EXISTS_DEFAULT the analyzer-folded literal (what
        // every pre-add file reads for the column — applied natively
        // by Spark's parquet readers, zero data I/O at any size). The
        // fold to a literal happened at ANALYSIS, so v3's immutable-
        // initial-default contract holds: later SET DEFAULTs move only
        // CURRENT_DEFAULT.
        Option(a.defaultValue()).foreach { dv =>
          val lit = dv.getValue
          require(lit != null,
            s"ALTER TABLE $ident: DEFAULT for ${a.fieldNames.head} did not fold " +
              "to a constant; only literal defaults are storable as metadata")
          mb.putString(ManifestTable.CurrentDefaultKey,
            Option(dv.getSql).getOrElse(
              org.apache.spark.sql.catalyst.expressions.Literal(
                lit.value, lit.dataType).sql))
          // EXISTS_DEFAULT is re-parsed by EVERY future reader session
          // (Spark's parquet reader for the data path, defaultSince for
          // the pruning claim) — Literal.sql renders TIMESTAMP wall-
          // clock under the ALTER session's TZ, so a reader in another
          // TZ would reconstruct a DIFFERENT instant than the one the
          // ALTER folded, drifting the claimed min=max envelope from
          // the value the data path fills. Pin LTZ timestamps to an
          // explicit-offset UTC rendering: parse-stable in any session.
          val existsSql = lit.dataType match {
            // Guard lit.value, not just the literal object: DEFAULT NULL
            // folds to Literal(null, TimestampType), and casting that to
            // string yields SQL-null — interpolating it would store the
            // unparseable `TIMESTAMP 'null+00:00'`. NULL needs no TZ pin
            // (no instant to drift), so Literal.sql's CAST(NULL AS
            // TIMESTAMP) is the parse-stable rendering.
            case org.apache.spark.sql.types.TimestampType if lit.value != null =>
              val utcWall = org.apache.spark.sql.catalyst.expressions.Cast(
                org.apache.spark.sql.catalyst.expressions.Literal(lit.value, lit.dataType),
                org.apache.spark.sql.types.StringType, Some("UTC")).eval(null)
              s"TIMESTAMP '${utcWall}+00:00'"
            case _ =>
              org.apache.spark.sql.catalyst.expressions.Literal(
                lit.value, lit.dataType).sql
          }
          mb.putString(ManifestTable.ExistsDefaultKey, existsSql)
        }
        StructField(top(a.fieldNames, "added"), a.dataType, nullable = true,
          metadata = mb.build())
    }
    // SET/UNSET TBLPROPERTIES batch into ONE metadata commit each (a
    // multi-key SET is atomic); vocabulary-validated eagerly so a bad
    // write.delete.mode fails before any column change applies
    val sets = changes.collect { case s: TableChange.SetProperty => s.property -> s.value }
    val unsets = changes.collect { case r: TableChange.RemoveProperty => r.property }
    ManifestTable.validateProps(sets.toMap)
    val others = changes.filterNot(c => c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.SetProperty] || c.isInstanceOf[TableChange.RemoveProperty])
      .map {
        case r: TableChange.RenameColumn => () =>
          ManifestTable.renameColumn(dir, top(r.fieldNames, "renamed"), r.newName): Unit
        case d: TableChange.DeleteColumn => () =>
          ManifestTable.dropColumns(dir, Seq(top(d.fieldNames, "dropped"))): Unit
        // ALTER COLUMN ... TYPE: metadata-only for the SAFE widening
        // set (integral widening, float -> double, decimal precision);
        // widenColumn refuses anything lossy with the full explanation
        case t: TableChange.UpdateColumnType => () =>
          ManifestTable.widenColumn(dir, top(t.fieldNames, "retyped"), t.newDataType): Unit
        case c: TableChange.UpdateColumnComment => () =>
          ManifestTable.updateColumnMeta(dir, top(c.fieldNames, "commented"),
            comment = Some(c.newComment)): Unit
        case nl: TableChange.UpdateColumnNullability => () =>
          if (nl.nullable)
            ManifestTable.updateColumnMeta(dir, top(nl.fieldNames, "relaxed"),
              relaxNullable = true): Unit
          else throw new IllegalArgumentException(
            s"ALTER TABLE $ident: SET NOT NULL is a data claim over every committed " +
              "file (pre-evolution files read added columns as NULL unconditionally); " +
              "refused without a validation scan — rewrite (replace) into a NOT NULL " +
              "definition instead")
        // ALTER COLUMN ... SET/DROP DEFAULT: the WRITE default only
        // (CURRENT_DEFAULT); the initial default pre-add files read is
        // immutable — see ManifestTable.updateColumnDefault
        case u: TableChange.UpdateColumnDefaultValue => () =>
          ManifestTable.updateColumnDefault(dir, top(u.fieldNames, "defaulted"),
            GraftCatalog.defaultSqlOf(u)): Unit
        case other => unsupported(s"ALTER TABLE (${other.getClass.getSimpleName})")
      }
    // Pre-validate the WHOLE change set against the current snapshot so a
    // multi-change ALTER either fully applies or fully fails — without
    // this, the second of two renames failing (say, targeting a retired
    // name) would leave the first committed with no rollback. Each step
    // still re-validates inside its own optimistic commit loop; this
    // closes the deterministic-failure window, not the (rare, loud)
    // concurrent-writer race.
    locally {
      val cur = ManifestTable.manifest(dir, None)
      var types: Vector[(String, org.apache.spark.sql.types.DataType)] =
        DataFrameSchema.fromJson(cur.schemaJson).fields
          .map(f => f.name -> f.dataType).toVector
      def names = types.map(_._1)
      var retired = cur.retired.toSet
      // the bucket envelope's hash domain is the track SOURCE's narrow
      // type; follow the source name through in-batch renames so a
      // rename-then-widen still hits the refusal
      var bucketSrc: Set[String] = cur.track.map(TrackSpec.parse).collect {
        case TrackSpec.Bucket(_, src) => src
      }.toSet
      def requireFresh(n: String, what: String): Unit = {
        require(!n.startsWith("__") && n != GraftLakeTable.VersionColumn,
          s"ALTER TABLE $ident: column name $n is reserved ($what)")
        require(!names.contains(n), s"ALTER TABLE $ident: column $n already exists ($what)")
        require(!retired(n),
          s"ALTER TABLE $ident: column name $n is retired (renamed away or dropped); " +
            s"old files still hold bytes under it — pick a fresh name ($what)")
      }
      // simulate in APPLICATION order: all adds land first, then the rest
      adds.foreach { f => requireFresh(f.name, "ADD COLUMN"); types :+= (f.name -> f.dataType) }
      changes.foreach {
        case _: TableChange.AddColumn => ()
        case r: TableChange.RenameColumn =>
          val from = top(r.fieldNames, "renamed")
          require(names.contains(from), s"ALTER TABLE $ident: no such column: $from")
          requireFresh(r.newName, "RENAME COLUMN")
          types = types.map { case (n, t) => (if (n == from) r.newName else n) -> t }
          if (bucketSrc.contains(from)) bucketSrc = bucketSrc - from + r.newName
          retired += from
        case d: TableChange.DeleteColumn =>
          val n = top(d.fieldNames, "dropped")
          require(names.contains(n), s"ALTER TABLE $ident: no such column: $n")
          require(types.size > 1, s"ALTER TABLE $ident: cannot drop every column")
          types = types.filterNot(_._1 == n); retired += n
        case t: TableChange.UpdateColumnType =>
          val n = top(t.fieldNames, "retyped")
          val from = types.collectFirst { case (`n`, dt) => dt }
            .getOrElse(throw new IllegalArgumentException(
              s"ALTER TABLE $ident: no such column: $n"))
          require(ManifestTable.safeWiden(from, t.newDataType),
            s"ALTER TABLE $ident: ALTER COLUMN $n TYPE: ${from.catalogString} -> " +
              s"${t.newDataType.catalogString} is not a safe metadata-only widening " +
              "(allowed: integral widening, float -> double, decimal precision " +
              "widening at the same scale); use replace to restructure")
          require(!bucketSrc.contains(n),
            s"ALTER TABLE $ident: cannot widen $n: it is a bucket track source whose " +
              "envelopes hold hash values of the narrow type; replace/re-cluster first")
          types = types.map { case (m, dt) => m -> (if (m == n) t.newDataType else dt) }
        case c: TableChange.UpdateColumnComment =>
          val n = top(c.fieldNames, "commented")
          require(names.contains(n), s"ALTER TABLE $ident: no such column: $n")
        case nl: TableChange.UpdateColumnNullability =>
          val n = top(nl.fieldNames, "relaxed")
          require(names.contains(n), s"ALTER TABLE $ident: no such column: $n")
          require(nl.nullable,
            s"ALTER TABLE $ident: SET NOT NULL is a data claim over every committed " +
              "file (pre-evolution files read added columns as NULL unconditionally); " +
              "refused without a validation scan — rewrite (replace) into a NOT NULL " +
              "definition instead")
        case u: TableChange.UpdateColumnDefaultValue =>
          val n = top(u.fieldNames, "defaulted")
          require(names.contains(n), s"ALTER TABLE $ident: no such column: $n")
          GraftCatalog.defaultSqlOf(u): Unit // constant-or-refuse, eagerly
        case _ => ()
      }
    }
    if (adds.nonEmpty) ManifestTable.addColumns(dir, adds)
    others.foreach(_.apply())
    if (sets.nonEmpty) ManifestTable.setProperties(dir, sets.toMap): Unit
    if (unsets.nonEmpty) ManifestTable.unsetProperties(dir, unsets): Unit
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (ManifestTable.latestVersion(dir).isEmpty) false
    else { deleteRecursively(java.nio.file.Paths.get(dir)); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    unsupported("RENAME TABLE")

  // ---- SQL stored procedures (CALL graft.system.<proc>(...)) — the
  // Iceberg-style maintenance surface, bound to the typed API's
  // transactional code paths ([[GraftProcedures]])
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (ident.namespace().toSeq != Seq(GraftProcedures.Namespace))
      throw new IllegalArgumentException(
        s"no such procedure: $ident (procedures live under ${GraftProcedures.Namespace})")
    GraftProcedures.load(catName, () => warehouse, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq != Seq(GraftProcedures.Namespace)) Array.empty
    else GraftProcedures.list().map(Identifier.of(namespace, _))

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
  }

  // ---- SQL views (CREATE/DROP/SHOW VIEW) — Spark 4's DSv2 ViewCatalog.
  // A view is its SQL TEXT plus the resolution context it was defined
  // under (catalog, namespace, analyzed schema, output aliases),
  // persisted as one JSON document at <warehouse>/<ns>/_views/<name>
  // .json — so it survives session restarts like a table does, and a
  // SELECT through it re-resolves the text against THIS catalog: a
  // view over a manifest table plans through the same scan builder and
  // prunes identically to querying the table directly. O(1) metadata
  // per view; nothing is materialized.

  private def viewFile(ident: Identifier): java.nio.file.Path = {
    require(!ident.name.contains('/') && !ident.name.contains('$'),
      s"illegal view name: ${ident.name}")
    java.nio.file.Paths.get(
      ident.namespace().foldLeft(warehouse)((a, b) => s"$a/$b"), "_views",
      s"${ident.name}.json")
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val base = namespace.foldLeft(warehouse)((a, b) => s"$a/$b")
    Option(new java.io.File(s"$base/_views").listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".json"))
      .map(f => Identifier.of(namespace.toArray, f.getName.stripSuffix(".json")))
  }

  override def viewExists(ident: Identifier): Boolean =
    java.nio.file.Files.exists(viewFile(ident))

  override def loadView(ident: Identifier): View = {
    val p = viewFile(ident)
    if (!java.nio.file.Files.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    GraftView.read(ident.toString, p)
  }

  override def createView(info: ViewInfo): View = {
    val p = viewFile(info.ident)
    java.nio.file.Files.createDirectories(p.getParent)
    val doc = GraftView.render(info)
    try java.nio.file.Files.write(p, doc.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW) // atomic no-overwrite
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident)
    }
    GraftView.read(info.ident.toString, p)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View =
    unsupported("ALTER VIEW (drop and recreate: view documents are immutable)")

  override def dropView(ident: Identifier): Boolean =
    java.nio.file.Files.deleteIfExists(viewFile(ident))

  override def renameView(from: Identifier, to: Identifier): Unit = {
    val src = viewFile(from)
    if (!java.nio.file.Files.exists(src))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(from)
    val dst = viewFile(to)
    java.nio.file.Files.createDirectories(dst.getParent)
    if (java.nio.file.Files.exists(dst))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(to)
    java.nio.file.Files.move(src, dst): Unit
  }
}

/** One persisted SQL view: the definition text plus its resolution
  * context, round-tripped through a single JSON document (see the
  * ViewCatalog section of [[GraftCatalog]]).
  */
object GraftView {
  private case class Doc(
      sql: String, currentCatalog: String, currentNamespace: Seq[String],
      schemaJson: String, queryColumnNames: Seq[String],
      columnAliases: Seq[String], columnComments: Seq[Option[String]],
      properties: Map[String, String])

  private implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats

  private[sources] def render(info: ViewInfo): String = {
    def arr(a: Array[String]): Seq[String] = Option(a).map(_.toSeq).getOrElse(Nil)
    org.json4s.jackson.Serialization.write(Doc(
      info.sql(), info.currentCatalog(), arr(info.currentNamespace()),
      info.schema().json, arr(info.queryColumnNames()),
      arr(info.columnAliases()),
      Option(info.columnComments()).map(_.toSeq.map(Option(_))).getOrElse(Nil),
      Option(info.properties())
        .map(p => { import scala.jdk.CollectionConverters._; p.asScala.toMap })
        .getOrElse(Map.empty)))
  }

  private[sources] def read(name: String, p: java.nio.file.Path): View = {
    val doc = org.json4s.jackson.JsonMethods
      .parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).extract[Doc]
    new View {
      override def name(): String = name
      override def query(): String = doc.sql
      override def currentCatalog(): String = doc.currentCatalog
      override def currentNamespace(): Array[String] = doc.currentNamespace.toArray
      override def schema(): StructType = DataFrameSchema.fromJson(doc.schemaJson)
      override def queryColumnNames(): Array[String] = doc.queryColumnNames.toArray
      override def columnAliases(): Array[String] = doc.columnAliases.toArray
      override def columnComments(): Array[String] = doc.columnComments.map(_.orNull).toArray
      override def properties(): java.util.Map[String, String] = {
        import scala.jdk.CollectionConverters._
        doc.properties.asJava
      }
    }
  }
}

object GraftCatalog {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  /** The SET DEFAULT statement's SQL text from an
    * UpdateColumnDefaultValue change; None = DROP DEFAULT (Spark
    * signals it with a null/empty default). The text must be a
    * CONSTANT — validated eagerly so a bad SET DEFAULT fails the
    * whole ALTER, not the next INSERT.
    */
  private[sources] def defaultSqlOf(
      u: org.apache.spark.sql.connector.catalog.TableChange.UpdateColumnDefaultValue)
      : Option[String] = {
    val sql = Option(u.newCurrentDefault()).flatMap(d => Option(d.getSql))
      .orElse(Option(u.newDefaultValue()))
      .map(_.trim).filter(_.nonEmpty)
    sql.foreach { s =>
      val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(s)
      require(parsed.foldable,
        s"SET DEFAULT $s: only constant defaults are supported (the value is " +
          "stored as table metadata and filled in at INSERT analysis)")
    }
    sql
  }

  /** The TBLPROPERTIES the USER wrote, split from the bookkeeping keys
    * Spark folds into the same map on CREATE (provider/location/owner
    * and `option.`-prefixed write options) — those describe the
    * statement, not the table, and persisting them would shadow the
    * live values [[GraftLakeTable.properties]] synthesizes.
    */
  private[sources] def userProps(
      properties: java.util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    properties.asScala.toMap.filter { case (k, _) =>
      !SparkManagedProps(k) && !k.startsWith("option.")
    }
  }
  // NOT filtered: `comment` — Spark folds a COMMENT clause into the
  // property map, but unlike provider/location/owner it IS user
  // metadata; dropping it would silently lose it. Persisted like any
  // other property, it surfaces through properties()/DESCRIBE.
  private val SparkManagedProps = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION)

  /** Source-filter → Column translation for the DELETE path: Some for
    * the filter algebra [[ManifestTable.delete]] can express (the SQL
    * null semantics line up — a NULL-valued comparison is not TRUE, so
    * the row survives on both sides), None for anything else, which
    * makes [[GraftLakeTable.canDeleteWhere]] refuse the statement
    * up front.
    */
  private[sources] def filterColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) => for { a <- filterColumn(l); b <- filterColumn(r) } yield a && b
    case sources.Or(l, r) => for { a <- filterColumn(l); b <- filterColumn(r) } yield a || b
    case sources.Not(c) => filterColumn(c).map(!_)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** One resolved snapshot as a V2 table: the committed schema, scans
  * built by [[GraftLakeScanBuilder]], writes routed through the
  * transactional commit API by [[GraftLakeWriteBuilder]].
  */
final case class GraftLakeTable(
    tableName: String, dir: String, m: ManifestTable.Manifest,
    /** Set when `m` is a BRANCH head (explicit `VERSION AS OF 'branch'`
      * or `spark.graft.wap.branch` read routing). Branch manifests use
      * branch-local version numbers: a streaming read baselined on one
      * would checkpoint offsets that alias MAIN versions — after the
      * branch is dropped and main advances past the number, a restart
      * silently binds a DIFFERENT snapshot. Streaming refuses instead.
      */
    fromBranch: Option[String] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations with SupportsMetadataColumns
  with TruncatableTable {

  override def name(): String = tableName

  /** SQL `TRUNCATE TABLE` → an atomic empty [[ManifestTable.replace]]:
    * the truncated state is one new manifest referencing zero files,
    * the old head stays time-travel-readable until expiry, pending
    * merge-on-read tombstones clear (the content they applied to is
    * gone) — O(1) metadata at any table size.
    */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    require(GraftWrites.wapBranch(spark).isEmpty,
      s"TRUNCATE TABLE $tableName cannot run while ${GraftWrites.WapBranchConf} routes " +
        "writes onto a branch (it would replace MAIN's snapshot past the staged audit); " +
        "publish or unset the branch first")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema())
    ManifestTable.replace(empty, dir, m.track)
    true
  }
  /** `identifier.columns` (the Iceberg identifier-field contract)
    * makes the named columns REQUIRED at the table surface: row-level
    * delta rewrites demand non-nullable row ids (Spark refuses
    * otherwise), SQL writes then enforce non-nullness through Spark's
    * own output resolver, and [[ManifestTable.setProperties]] scans for
    * existing nulls when the property is adopted on a non-empty table
    * — so the surface claim is sound end to end.
    */
  override def schema(): StructType = {
    val s = DataFrameSchema.fromJson(m.schemaJson)
    ManifestTable.identifierColumns(m) match {
      case ids if ids.nonEmpty =>
        StructType(s.fields.map(f =>
          if (ids.contains(f.name)) f.copy(nullable = false) else f))
      case _ => s
    }
  }

  /** `_version`: the manifest snapshot version serving the row — a
    * CONSTANT per scan, appended by the reader wrapper when requested
    * (`SELECT _version, * FROM graft.lake.t`). Doubles as the
    * metadata attribute the row-level operations require
    * ([[GraftRowLevelOperation.requiredMetadataAttributes]]), which
    * routes their physical write through Spark's projecting task — the
    * same contract Iceberg's `_spec_id`/`_partition` serve.
    */
  override def metadataColumns(): Array[MetadataColumn] = Array(new MetadataColumn {
    override def name(): String = GraftLakeTable.VersionColumn
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String = "manifest snapshot version serving this row"
  })
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
    // `write.schema.accept-additive = true` (Delta's autoMerge role):
    // arms Spark's `MERGE WITH SCHEMA EVOLUTION` clause, which
    // computes the source's new columns and drives this catalog's own
    // alterTable AddColumn path before the merge plans — the same
    // additive rules API appends use (old files read the columns as
    // NULL). Without the property the capability stays off and the
    // clause is inert: an unexpected source column is a pipeline bug
    // until the table says otherwise. Deliberately NOT
    // ACCEPT_ANY_SCHEMA: that capability makes Spark skip output
    // resolution wholesale, which breaks MERGE reference resolution —
    // and positional INSERT casting with it. SQL INSERT with extra
    // columns keeps refusing (Delta draws the same line); API appends
    // already evolve additively.
    if (m.props.get(GraftWrites.AcceptAdditiveProp).contains("true"))
      caps.add(TableCapability.AUTOMATIC_SCHEMA_EVOLUTION): Unit
    caps
  }

  /** The track spec reported as V2 partitioning metadata — what
    * `SHOW CREATE TABLE` renders as `PARTITIONED BY` and catalog
    * tooling introspects. Identity entries are stat-tracked columns,
    * transform entries the hidden-partitioning vocabulary; this is the
    * same round-trip [[GraftCatalog.createTable]] parses back in, so
    * SHOW CREATE TABLE output re-creates an equivalent table.
    */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    m.track.map(TrackSpec.parse).map {
      case TrackSpec.Identity(c) => Expressions.identity(c)
      case TrackSpec.Days(c) => Expressions.days(c)
      case TrackSpec.Hours(c) => Expressions.hours(c)
      case TrackSpec.Months(c) => Expressions.months(c)
      case TrackSpec.Years(c) => Expressions.years(c)
      case TrackSpec.Bucket(n, c) => Expressions.bucket(n, c)
      case TrackSpec.Truncate(w, c) =>
        Expressions.apply("truncate",
          Expressions.literal(Integer.valueOf(w)), Expressions.column(c))
    }.toArray
  }
  override def properties(): java.util.Map[String, String] = {
    // synthesized live metadata first, persisted TBLPROPERTIES on top
    // (reserved keys can never persist, so the union is disjoint);
    // SHOW TBLPROPERTIES / DESCRIBE EXTENDED read this map directly
    val out = new java.util.HashMap[String, String]()
    out.put("provider", "graft-manifest")
    out.put("location", dir)
    out.put("version", m.version.toString)
    m.props.foreach { case (k, v) => out.put(k, v) }
    java.util.Collections.unmodifiableMap(out)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftLakeWriteBuilder(dir, m, info)

  /** SQL `DELETE FROM ... WHERE ...` → [[ManifestTable.delete]]: the
    * file-granular copy-on-write delete (touched files found from one
    * column-pruned metadata pass, ONLY those rewritten, atomic manifest
    * swap — a selective 100 TB delete rewrites a handful of files).
    * Spark hands the condition as source filters; a condition it
    * cannot translate is refused in [[canDeleteWhere]] — and falls
    * back to the group-based row-level rewrite
    * ([[newRowLevelOperationBuilder]]) instead of failing.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(GraftCatalog.filterColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val cond = filters.toSeq.flatMap(GraftCatalog.filterColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    GraftWrites.wapBranch(spark) match {
      case Some(b) =>
        // while routing, a plain DELETE is a BRANCH CoW rewrite — the
        // row-correction step of the SQL-only write-audit-publish
        // lifecycle; main stays isolated until fast_forward. The
        // relation must itself have resolved through the routing (the
        // same statement's read), or the condition was planned against
        // a different snapshot than the one it would rewrite.
        require(fromBranch.contains(b),
          s"DELETE on $tableName: ${GraftWrites.WapBranchConf}='$b' was set after this " +
            "relation resolved (or it resolved against a different branch); re-run the " +
            "statement so read and rewrite bind the same branch head")
        ManifestTable.deleteOnBranch(spark, dir, b, cond): Unit
      case None =>
        // the TABLE declares its delete regime (Iceberg's
        // write.delete.mode): merge-on-read commits O(matching rows)
        // positional tombstones and rewrites NOTHING — at 100 TB a
        // GDPR-class DELETE FROM costs kilobytes, readers apply the
        // pairs via MorApplyRewrite until the maintenance cadence
        // materializes; default copy-on-write rewrites the touched
        // files and reads stay clean
        if (m.props.get(ManifestTable.WriteDeleteModeProp).contains("merge-on-read"))
          ManifestTable.deleteWhere(spark, dir, cond): Unit
        else
          ManifestTable.delete(spark, dir, cond): Unit
    }
  }

  /** SQL `UPDATE` / `MERGE INTO` (and DELETEs whose condition the
    * filter algebra can't express) as GROUP-BASED COPY-ON-WRITE, the
    * file-granular regime Iceberg standardized: Spark rewrites the
    * statement into a plan that reads the affected rows through the
    * operation's own scan and writes back the FULL new content of the
    * affected groups; here a group is one data file, the scan prunes
    * to the files that can hold a matching row (envelope + Bloom
    * constraint analysis on the pushed condition), and the write's
    * commit atomically swaps exactly the planned files for their
    * staged replacements — with the same concurrent-writer conflict
    * checks as the API rewrite path. A selective 100 TB UPDATE
    * rewrites a handful of files; an un-prunable MERGE rewrites the
    * scanned table, which is the documented CoW trade (the API's
    * [[ManifestTable.merge]] is the key-bounded alternative).
    *
    * Tables with PENDING merge-on-read tombstones are refused here:
    * the rewrite plan reads through the bare V2 scan, which cannot
    * apply them — materialize first, or use the API, which can.
    */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    // while spark.graft.wap.branch routes, the CoW rewrite reads the
    // BRANCH head (load() resolved this relation there) and its write
    // commits the swap as the branch's next shadow snapshot — plain
    // UPDATE/MERGE INTO/DELETE are the row-correction steps of the
    // SQL-only write-audit-publish lifecycle, zero CALLs needed. The
    // relation must have resolved through the routing, or scan and
    // rewrite would bind different snapshots.
    GraftWrites.wapBranch(SparkSession.active).foreach { b =>
      require(fromBranch.contains(b),
        s"${info.command} on $tableName: ${GraftWrites.WapBranchConf}='$b' was set " +
          "after this relation resolved (or it resolved against a different branch); " +
          "re-run the statement so read and rewrite bind the same branch head")
    }
    // write.update.mode / write.merge.mode = merge-on-read route the
    // statement through the DELTA operation (equality tombstones + new
    // rows, nothing rewritten) instead of the group CoW rewrite. Needs
    // identifier.columns (the Iceberg identifier-field contract);
    // tombstone-carrying reads are handled by MorApplyRewrite, so MoR
    // DML chains freely — no analysis-time tombstone guard here.
    val deltaMode = info.command match {
      case RowLevelOperation.Command.UPDATE =>
        m.props.get("write.update.mode").contains("merge-on-read")
      case RowLevelOperation.Command.MERGE =>
        m.props.get("write.merge.mode").contains("merge-on-read")
      // DELETE rides the delta only when the table ALSO declares a row
      // identity: a filter-convertible DELETE still converts back to
      // the positional SupportsDelete path afterwards (Spark's
      // OptimizeMetadataOnlyDeleteFromTable matches WriteDelta too),
      // so the delta is exactly the UNCONVERTIBLE-condition fallback —
      // equality tombstones in O(matching rows) bytes where the group
      // rewrite would rewrite files (or refuse on pending tombstones)
      case RowLevelOperation.Command.DELETE =>
        m.props.get(ManifestTable.WriteDeleteModeProp).contains("merge-on-read") &&
          m.props.contains("identifier.columns")
      case _ => false
    }
    if (deltaMode) {
      require(GraftWrites.wapBranch(SparkSession.active).isEmpty,
        s"${info.command} on $tableName: merge-on-read DML cannot route onto a WAP " +
          s"branch (${GraftWrites.WapBranchConf} is set) — branches stage copy-on-write " +
          "deltas only; unset the branch or use copy-on-write mode")
      val keys = m.props.get("identifier.columns").toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      require(keys.nonEmpty,
        s"${info.command} on $tableName: write.${if (info.command == RowLevelOperation.Command.UPDATE) "update" else "merge"}.mode=merge-on-read needs " +
          "identifier.columns (comma-separated row-identity columns, the Iceberg " +
          "identifier-field contract) set on the table")
      val schemaFields = schema().fieldNames.toSet
      val missing = keys.filterNot(schemaFields.contains)
      require(missing.isEmpty,
        s"${info.command} on $tableName: identifier.columns name(s) " +
          s"${missing.mkString(", ")} not in the table schema")
      return new RowLevelOperationBuilder {
        override def build(): RowLevelOperation =
          new GraftDeltaOperation(dir, m, info.command, keys)
      }
    }
    // DELETE is exempt from the analysis-time tombstone/rename-era
    // guards: Spark's OptimizeMetadataOnlyDeleteFromTable converts a
    // filter-convertible DELETE back to the SupportsDelete path AFTER
    // this builder runs, and that path (ManifestTable.delete /
    // deleteWhere) computes through the APPLIED view — fully tombstone-
    // and era-aware. Refusing here would break consecutive DELETEs
    // under write.delete.mode=merge-on-read (each delete leaves the
    // tombstones the next would trip on). A DELETE whose condition the
    // filter algebra can't express falls through to this group rewrite
    // and still fails LOUDLY — at GraftLakeScan.toBatch, whose message
    // names materializeDeletes/compact — never silently mis-reads.
    if (info.command != RowLevelOperation.Command.DELETE) {
      require(!m.hasMorDeletes,
        s"${info.command} on $tableName: table has pending merge-on-read deletes the " +
          "copy-on-write rewrite cannot apply; run ManifestTable.materializeDeletes " +
          "first, or use the typed API (merge/update/delete), which applies them")
      require(!m.renamesApply,
        s"${info.command} on $tableName: table has files predating a column rename, " +
          "which the rewrite's bare scan would mis-read; run ManifestTable.compact " +
          "first (rewrites every file into the current name era), or use the typed API")
    }
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GraftRowLevelOperation(dir, m, info.command,
          GraftWrites.wapBranch(SparkSession.active).filter(fromBranch.contains))
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // MoR/rename-era guards live on the BATCH surface (GraftLakeScan
    // .toBatch): batch reads of such tables are rewritten by the
    // injected MorApplyRewrite before planning (extension-less sessions
    // fail loudly there instead of scanning un-applied rows), while the
    // STREAMING surface reads rename eras natively (per-era scan
    // templates in GraftMicroBatchStream) and enforces its own MoR
    // rules at the offset level
    new GraftLakeScanBuilder(SparkSession.active, dir, m, options,
      fromBranch = fromBranch)
}

/** Write builder: `INSERT INTO` → append, `INSERT OVERWRITE` →
  * atomic truncate-and-load (the old head stays time-travel-
  * readable) — both as the NATIVE batch write ([[GraftBatchWrite]]):
  * executor tasks stream their partitions straight into staged
  * parquet files, and the driver's commit turns them into the next
  * manifest version through the optimistic atomic-create loop (two
  * racing SQL inserts both land, nothing doubled). Appends inherit
  * the parent's track spec AND its pending merge-on-read tombstones
  * with a higher data sequence, so SQL inserts compose with the
  * row-level API exactly like API appends do.
  */
final class GraftLakeWriteBuilder(
    dir: String, m: ManifestTable.Manifest, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new GraftWrite(
    SparkSession.active, dir, info.schema(), m.track, overwrite, info.queryId(),
    props = m.props)
}

object GraftLakeTable {
  /** Name of the constant-per-snapshot metadata column. */
  val VersionColumn = "_version"
}

/** One SQL UPDATE / MERGE INTO / rewrite-DELETE as a group-based
  * copy-on-write operation (see
  * [[GraftLakeTable.newRowLevelOperationBuilder]]): Spark drives both
  * sides through THIS instance, which is what links them — the scan
  * records the file list it planned (post envelope/Bloom pruning of
  * the pushed condition), and the write's commit swaps exactly those
  * files for the staged replacements, conflict-checked against
  * writers that raced in between.
  */
/** The in-flight half of an atomic CTAS / RTAS (see
  * [[GraftCatalog.stageCreate]]): data stages under the table dir with
  * NO manifest, so nothing is visible until `commitStagedChanges`
  * installs definition + files as one version.
  */
final class GraftStagedTable(
    spark: SparkSession, tableName: String, dir: String,
    tableSchema: StructType, track: Seq[String], props: Map[String, String],
    allowCreate: Boolean, allowReplace: Boolean)
  extends org.apache.spark.sql.connector.catalog.StagedTable with SupportsWrite {

  private val createdDir = !new java.io.File(dir, "_manifests").exists()
  new java.io.File(dir, "data").mkdirs()
  new java.io.File(dir, "_manifests").mkdirs()
  private val stage = s"$dir/data/c-ctas-${java.util.UUID.randomUUID()}"
  new java.io.File(stage).mkdirs()

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  // REPLACE TABLE AS SELECT models the atomic replace as truncate+append
  // ON THE STAGED TABLE — which starts empty, so truncate is a no-op
  // (the replacement happens at commitStagedChanges)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
    override def truncate(): WriteBuilder = this
    override def build(): Write =
      new Write with org.apache.spark.sql.connector.write.BatchWrite
        with GraftWriteLayout {
      // the STAGED definition's layout, not an existing table's: a
      // CTAS/RTAS declaring write.distribution-mode gets its initial
      // (often largest) load clustered exactly like later INSERTs
      override protected def layoutSchema: StructType = tableSchema
      override protected def layoutTrack: Seq[String] = track
      override protected def layoutProps: Map[String, String] = props
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = this
      override def description(): String = s"graft-manifest staged CTAS -> $dir"
      override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory =
        new GraftWriterFactory(stage, tableSchema.json,
          new GraftWrites.ConfCarrier(GraftWrites.writeConf(spark, tableSchema)))
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        // task-level exactly-once: drop files no committed task named
        val committed = messages.collect {
          case GraftCommitMessage(p) if p != null => p
        }.toSet
        Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
          .filterNot(f => committed(f.getAbsolutePath))
          .foreach(_.delete())
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        Option(new java.io.File(stage).listFiles()).getOrElse(Array.empty)
          .foreach(_.delete())
    }
  }

  override def commitStagedChanges(): Unit =
    ManifestTable.installStagedDefinition(
      spark, dir, tableSchema, track, props, stage, allowCreate, allowReplace): Unit

  override def abortStagedChanges(): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rec)
      f.delete(): Unit
    }
    rec(new java.io.File(stage))
    // a CREATE we started from nothing leaves no trace on abort
    if (createdDir &&
      Option(new java.io.File(dir, "_manifests").listFiles()).forall(_.isEmpty))
      rec(new java.io.File(dir))
  }
}

/** MERGE-ON-READ row-level operation (the SupportsDelta side of the
  * regime split — group-based CoW is [[GraftRowLevelOperation]]): SQL
  * UPDATE / MERGE INTO on a table declaring `write.update.mode` /
  * `write.merge.mode` = merge-on-read plan through Spark's DELTA
  * rewrites instead of the whole-group ReplaceData plan. The row
  * identity is the table's `identifier.columns` property (Iceberg's
  * identifier-field contract: the named columns must uniquely identify
  * a row and be non-null — a duplicate-identity table would lose
  * unmatched siblings, exactly as in Iceberg/Flink-CDC equality
  * deletes). Updates split into delete+insert records
  * ([[representUpdateAsDeleteAndInsert]]), the writer stages equality
  * tombstones + new rows, and ONE atomic commit lands both
  * ([[ManifestTable.installStagedDelta]]) — nothing rewrites, so a
  * selective 100 TB upsert costs O(Δ) bytes. The read side needs no
  * planned-file bookkeeping (no files swap): a tombstone-free table
  * reads through the plain pruned V2 scan WITH parquet pushdown (a
  * delta only needs the MATCHING rows, unlike the whole-group
  * rewrite), and a tombstone-carrying table's read is swapped for the
  * applied view by [[graft.plans.MorApplyRewrite]] — which is what
  * lets MoR updates CHAIN: each commit's tombstones are applied by the
  * next statement's read.
  */
final class GraftDeltaOperation(
    val dir: String, val m: ManifestTable.Manifest,
    cmd: RowLevelOperation.Command, keys: Seq[String])
  extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-manifest MoR delta $cmd $dir"

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    keys.map(org.apache.spark.sql.connector.expressions.Expressions.column(_)).toArray

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLakeScanBuilder(SparkSession.active, dir, m, options)

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new GraftDeltaWrite(SparkSession.active, dir, m, info.schema(), keys)
    }
}

final class GraftRowLevelOperation(
    dir: String, m: ManifestTable.Manifest, cmd: RowLevelOperation.Command,
    /** Set while `spark.graft.wap.branch` routes and `m` is that
      * branch's head: the commit swaps files as the branch's next
      * shadow snapshot instead of a main commit. Captured at build time
      * so a conf flip mid-statement cannot split read and write.
      */
    onBranch: Option[String] = None)
  extends RowLevelOperation {

  @volatile private var planned: Seq[String] = null

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-manifest CoW $cmd $dir"

  /** Requesting `_version` is what routes the physical ReplaceData
    * write through Spark's projecting task (the plain task hands the
    * writer the rewrite plan's raw output, `__row_operation` column
    * included); with a metadata attribute present, data rows are
    * projected back to the table schema before they reach the writer.
    */
  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(GraftLakeTable.VersionColumn))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLakeScanBuilder(SparkSession.active, dir, m, options,
      onPlanned = fs => planned = fs, wholeGroups = true)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new GraftBatchWrite(
      SparkSession.active, dir, info.schema(), m.track,
      GraftWrites.ReplaceFiles(m, () => {
        require(planned != null,
          s"row-level $cmd write committed before its scan was planned")
        planned.toSet
      }, onBranch))
  }
}

/** Scan builder: Catalyst filters push down here FIRST (planning-time
  * manifest pruning — envelopes + Bloom sidecars via
  * [[ManifestSkipping.survivors]]), then the surviving file list is
  * handed to Spark's own `ParquetScanBuilder` with the same filters
  * and the pruned column set, so parquet row-group skipping and
  * `ReadSchema` pruning behave exactly as on a plain parquet scan.
  * Every filter is RETURNED as post-scan (bit-identical contract —
  * skipping only removes files that cannot contribute a row).
  */
final class GraftLakeScanBuilder(
    spark: SparkSession, dir: String, m: ManifestTable.Manifest,
    options: CaseInsensitiveStringMap,
    /** Invoked with the SURVIVING file list when the scan is built —
      * how a row-level operation learns which files its write must
      * replace ([[GraftRowLevelOperation]]).
      */
    onPlanned: Seq[String] => Unit = _ => (),
    fromBranch: Option[String] = None,
    /** True when this scan feeds a GROUP-BASED row-level rewrite
      * ([[GraftRowLevelOperation]]): the pushed condition then prunes
      * FILES only (manifest envelopes/Blooms — safe: a pruned file
      * provably holds no matching row, so its group is untouched) and
      * is NEVER handed to the parquet scan. The ReplaceData plan has
      * no upstream Filter re-evaluating it — it must read the WHOLE
      * content of every surviving group to write it back — so
      * parquet-level pushdown (row-group stats, column-index page
      * skipping) would silently drop the group's non-matching rows
      * from the rewrite: committed data loss.
      */
    wholeGroups: Boolean = false)
  extends ScanBuilder with SupportsPushDownCatalystFilters with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private val schema = DataFrameSchema.fromJson(m.schemaJson)
  private var pushed: Seq[Expression] = Nil
  private var required: StructType = schema
  private var aggAnswer: Option[(StructType, InternalRow)] = None

  /** `SELECT count(*) / min(tracked) / max(tracked) FROM t` answered
    * from MANIFEST METADATA — per-file row counts and commit-time
    * envelope stats — with ZERO file I/O: the Iceberg
    * metadata-aggregate optimization; at 100 TB a bare count(*) is an
    * O(files) driver fold instead of a cluster job. Declined (falls
    * back to the normal scan) whenever correctness would need data:
    * residual filters, GROUP BY, pending tombstones, live rename
    * eras, float/double min/max (NaN ordering poisons envelope
    * comparisons — the same reason Iceberg refuses), untracked
    * columns, or any stat that fails to cast back to its native type.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggAnswer = tryManifestAggregate(agg)
    aggAnswer.isDefined
  }

  /** Safe under BOTH contracts: complete (Spark drops its agg — our
    * row is the final answer) and partial (Spark re-aggregates — a
    * single total row is a fixed point of sum/min/max re-aggregation).
    */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (aggAnswer.isEmpty) aggAnswer = tryManifestAggregate(agg)
    aggAnswer.isDefined
  }

  private def tryManifestAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, InternalRow)] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    import org.apache.spark.sql.types._
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty) return None
    if (m.hasMorDeletes || m.renamesApply) return None
    val aliases = ManifestSkipping.aliasesOf(m)
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: org.apache.spark.sql.connector.expressions.NamedReference
            if nr.fieldNames.length == 1 =>
          schema.fields.find(_.name == nr.fieldNames.head)
        case _ => None
      }
    def envelopeSafe(dt: DataType): Boolean = dt match {
      // no floats (NaN poisons envelope ordering — Iceberg refuses too)
      case ByteType | ShortType | IntegerType | LongType | StringType |
           BooleanType | DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    val totalRows: Long = m.files.map(_.rows).sum
    // Some(value-or-null) = answerable; None = decline the whole push
    def bound(f: StructField, wantMin: Boolean): Option[Any] = {
      if (!m.track.contains(f.name) || !envelopeSafe(f.dataType)) return None
      // track-spec evolution: a live file predating the column's entry
      // carries no envelope — its rows could hold the true min/max, so
      // the push declines until compaction rewrites it into the spec
      if (m.files.exists(fe => !m.envelopeCovers(f.name, fe.seq))) return None
      val keys = f.name +: aliases.getOrElse(f.name, Nil)
      val present = m.files.flatMap { fe =>
        val mp = if (wantMin) fe.mins else fe.maxs
        keys.collectFirst { case k if mp.contains(k) => mp(k) }.flatten
      }
      val cast = present.map(s => ManifestSkipping.castStat(s, f.dataType))
      if (cast.exists(_ == null)) return None // uncastable stat: decline
      if (cast.isEmpty) Some(null) // no non-null value anywhere
      else {
        val ord = org.apache.spark.sql.catalyst.util.TypeUtils
          .getInterpretedOrdering(f.dataType).asInstanceOf[Ordering[Any]]
        Some(if (wantMin) cast.min(ord) else cast.max(ord))
      }
    }
    // one (output field, value) per aggregate expression — schema built
    // here, NOT via parquet's AggregatePushDownUtils, which refuses
    // timestamp min/max for parquet-footer reasons (INT96/rebase modes)
    // that do not apply to commit-time envelope stats
    val cols: Seq[Option[(StructField, Any)]] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar =>
        Some((StructField("count(*)", LongType, nullable = false), totalRows))
      case c: Count if !c.isDistinct =>
        // count(col) == count(*) only when the column cannot be null
        colOf(c.column).filter(!_.nullable).map(f =>
          (StructField(s"count(${f.name})", LongType, nullable = false), totalRows))
      case mn: Min => colOf(mn.column).flatMap(f =>
        bound(f, wantMin = true).map(v =>
          (StructField(s"min(${f.name})", f.dataType), v)))
      case mx: Max => colOf(mx.column).flatMap(f =>
        bound(f, wantMin = false).map(v =>
          (StructField(s"max(${f.name})", f.dataType), v)))
      case _ => None
    }
    if (cols.exists(_.isEmpty)) return None
    val resolved = cols.map(_.get)
    Some((StructType(resolved.map(_._1)),
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(resolved.map(_._2))))
  }

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushed = filters
    filters // all retained post-scan: pruning is I/O-only, never semantic
  }

  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty // nothing is CONSUMED; the parquet scan advertises its own

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    aggAnswer.foreach { case (aggSchema, row) =>
      return new GraftAggScan(s"graft-manifest-agg $dir v${m.version}", aggSchema, row)
    }
    val all = m.files.map(_.path)
    val enabled = spark.conf.get("spark.graft.manifestSkipping.enabled", "true").toBoolean
    val paths = pushed.reduceOption(And) match {
      case Some(cond) if enabled =>
        // per-manifest, not per-file: defaultSince parses schema JSON
        // and folds default SQL (O(files) parses hoisted to O(1))
        val defaults = ManifestTable.defaultSince(m)
        val aliases = ManifestSkipping.aliasesOf(m)
        val stats = m.files.map(f =>
          f.path -> ManifestSkipping.Stats(
            dir, m.track, f.mins, f.maxs, aliases,
            fileSeq = f.seq, trackSince = m.trackSince,
            defaults = defaults)).toMap
        ManifestSkipping.survivors(cond, all, stats).getOrElse(all)
      case _ => all
    }
    onPlanned(paths)
    // `_version` (the constant-per-snapshot metadata column) never
    // reaches the parquet reader: it is stripped here and appended by
    // the wrapping reader below, in the exact position the required
    // schema puts it (Spark appends metadata columns after data ones)
    val wantsVersion = required.fieldNames.contains(GraftLakeTable.VersionColumn)
    val dataRequired =
      if (wantsVersion)
        StructType(required.fields.filterNot(_.name == GraftLakeTable.VersionColumn))
      else required
    def parquetScan(ps: Seq[String]): Scan = {
      val idx = new InMemoryFileIndex(
        spark, ps.map(new Path(_)), Map.empty[String, String], Some(schema))
      val psb = ParquetScanBuilder(spark, idx, schema, schema, options)
      // group reads re-write every surviving file's FULL content: no
      // parquet-level pushdown (see the wholeGroups param scaladoc)
      if (!wholeGroups) psb.pushFilters(pushed)
      psb.pruneColumns(dataRequired)
      psb.build()
    }
    val scan = parquetScan(paths)
    val lake = new GraftLakeScan(scan, spark, dir, m, options, pushed, dataRequired,
      Some(paths), parquetScan, fromBranch, onPlanned)
    if (wantsVersion) {
      require(required.fields.last.name == GraftLakeTable.VersionColumn,
        s"metadata column ${GraftLakeTable.VersionColumn} must be required last, " +
          s"got ${required.fieldNames.mkString(", ")}")
      // the wrapper DELEGATES runtime filtering to the lake scan: the
      // row-level operations' scans always carry `_version` and land
      // here, and Spark's runtime group filtering only fires on a
      // SupportsRuntimeV2Filtering scan — without the delegation, an
      // UPDATE/MERGE whose predicate no envelope can prune would
      // rewrite the WHOLE table instead of the groups holding matches
      new ConstLongAppendScan(lake, required, m.version)
    } else lake
  }
}

/** The catalog's built scan: batch reads delegate verbatim to Spark's
  * own parquet scan over the pre-pruned survivor files (plans,
  * metrics, and columnar decoding are untouched); a STREAMING read
  * (`spark.readStream.table`) gets the manifest-version-offset
  * micro-batch source ([[GraftMicroBatchStream]]) instead.
  */
final class GraftLakeScan(
    inner: Scan, spark: SparkSession, dir: String, m: ManifestTable.Manifest,
    options: CaseInsensitiveStringMap,
    pushed: Seq[Expression], required: StructType,
    /** Planning-time survivor files. `None` = no planning info (stats
      * fall back to every live file); `Some(Nil)` = statically pruned
      * to EMPTY — distinct on purpose: an empty scan must report zero
      * rows, not the full table's exact count.
      */
    plannedPaths: Option[Seq[String]] = None,
    rebuild: Seq[String] => Scan = null,
    fromBranch: Option[String] = None,
    /** Re-fired with the NARROWED file list when a runtime filter
      * prunes this scan. A row-level operation's `removed()` set MUST
      * track what the ReplaceData plan actually read: Spark's runtime
      * group filtering narrows the scan to the groups holding matches,
      * and a commit still swapping the PLANNING-time survivor list
      * would replace un-read files with nothing — silent data loss for
      * any UPDATE/MERGE predicate on an untracked column (where static
      * pruning can't narrow but the runtime group filter can).
      */
    onPlanned: Seq[String] => Unit = _ => ())
  extends Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** The CURRENT delegated parquet scan — swapped when a runtime
    * filter prunes the file list ([[filter]]).
    */
  @volatile private var current: Scan = inner

  /** The CURRENT live file list — planning-time survivors, narrowed
    * further when a runtime filter prunes ([[filter]]). Statistics
    * read THIS, not the planning-time list, so the advertised cache
    * invalidation (keyed on `current`) actually changes row/column
    * stats after a runtime narrowing.
    */
  @volatile private var livePaths: Option[Seq[String]] = plannedPaths

  /** The delegated parquet scan (plan-inspection hook for specs). */
  private[graft] def underlying: Scan = current

  // ---- runtime file pruning (the lake's dynamic-partition-pruning
  // analog): a join against a filtered dim hands the fact scan its
  // join-key values AT EXECUTION (Spark's DPP subquery machinery —
  // SupportsRuntimeFiltering); the same envelope+Bloom survivor
  // analysis that serves planning-time filters then drops every fact
  // file that cannot hold a matching key, BEFORE any task launches.
  // At 100 TB a star join touching one dim slice reads that slice's
  // fact files only — the other files are never opened.

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // SOURCE columns: runtime join-key filters arrive on real columns;
    // a transform track spec prunes via the derived-constraint path in
    // ManifestSkipping.survivors, so advertising its source is exactly
    // what makes a join on that column runtime-prunable. Restricted to
    // the READ schema: Spark's PartitionPruning rule resolves every
    // advertised attribute against the scan output and throws on a
    // tracked-but-unread column (a join key is always read, so this
    // costs no pruning opportunity)
    m.track.map(t => TrackSpec.parse(t).source).distinct
      .filter(readSchema().fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray

  override def filter(filters: Array[Filter]): Unit = {
    val planned = plannedPaths.getOrElse(Nil)
    if (rebuild == null || planned.isEmpty) return
    val schema = DataFrameSchema.fromJson(m.schemaJson)
    def attr(n: String) =
      schema.fields.find(_.name == n).map(f =>
        org.apache.spark.sql.catalyst.expressions.AttributeReference(n, f.dataType)())
    def catalystOf(f: Filter): Option[Expression] = f match {
      case sources.In(a, vs) =>
        val nn = vs.filter(_ != null)
        if (nn.isEmpty) None
        else attr(a).map(ar => org.apache.spark.sql.catalyst.expressions.In(
          ar, nn.toIndexedSeq.map(v => org.apache.spark.sql.catalyst.expressions.Literal(v))))
      case sources.EqualTo(a, v) if v != null =>
        attr(a).map(ar => org.apache.spark.sql.catalyst.expressions.EqualTo(
          ar, org.apache.spark.sql.catalyst.expressions.Literal(v)))
      case _ => None // best-effort: unknown shapes prune nothing
    }
    val conds = filters.toSeq.flatMap(catalystOf)
    conds.reduceOption(And).foreach { cond =>
      val defaults = ManifestTable.defaultSince(m) // hoisted: per-manifest parse
      val aliases = ManifestSkipping.aliasesOf(m)
      val stats = m.files.map(f => f.path -> ManifestSkipping.Stats(
        dir, m.track, f.mins, f.maxs, aliases,
        fileSeq = f.seq, trackSince = m.trackSince,
        defaults = defaults)).toMap
      ManifestSkipping.survivors(cond, planned, stats).foreach { s =>
        if (s.length < planned.length) {
          GraftLakeScan.lastRuntimePrune.set((planned.length, s.length))
          current = rebuild(s)
          livePaths = Some(s)
          // keep the row-level op's removed() set in lockstep with what
          // the rewrite will actually read (see the param scaladoc)
          onPlanned(s)
        }
      }
    }
  }

  /** Delegation reads `current` AT PLAN TIME, so the runtime-pruned
    * scan is what plans partitions regardless of when the enclosing
    * exec materialized this Batch.
    */
  override def toBatch: org.apache.spark.sql.connector.read.Batch = {
    // unreachable when graft.plans.MorApplyRewrite is injected (it
    // rewrites tombstone-/rename-era-carrying relations before
    // planning); a foreign session that configured the catalog without
    // the engine's extensions must fail loudly here rather than scan
    // un-applied rows or mis-read pre-rename bytes. The STREAMING
    // surface never reaches this — it reads rename eras natively
    require(!m.hasMorDeletes && !m.renamesApply,
      s"catalog table at $dir has pending merge-on-read deletes and/or " +
        "pre-rename files a bare V2 scan cannot read correctly; batch reads need " +
        "the engine's extensions (Engine.session / GraftFunctions.register — " +
        "MorApplyRewrite swaps in the applied-read plan); extension-less " +
        "sessions: run ManifestTable.materializeDeletes / compact " +
        "first, or read via snapshot/createView")
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
        current.toBatch.planInputPartitions()
      override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
        current.toBatch.createReaderFactory()
    }
  }

  /** Statistics for the optimizer: byte size passes through from the
    * delegated parquet scan (post manifest pruning, so a selective
    * filter shrinks the broadcast estimate), row count is the exact
    * manifest sum over the planned files, and COLUMN statistics come
    * from the commit-time envelopes — per-column min/max (union of
    * live file envelopes), null counts (all-null envelopes), and a
    * member-index NDV estimate when a type-consistent Bloom sidecar
    * covers the snapshot. With CBO on, join reordering and broadcast
    * decisions then see real numbers instead of the default-huge
    * guess. Estimates, not gates: a column with partial envelope
    * coverage (track-spec evolution), uncastable stats, or pending
    * MoR tombstones (row counts would overcount) simply contributes
    * less — never wrong-by-construction values.
    */
  // memoized per scan instance: the column-stat derivation walks every
  // live file entry, and Spark may consult stats several times while
  // planning one query. Keyed on the runtime-pruned scan identity so a
  // SupportsRuntimeFiltering narrowing invalidates the cache.
  @volatile private var statsCache: (Scan, org.apache.spark.sql.connector.read.Statistics) = null

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val cached = statsCache
    if (cached != null && (cached._1 eq current)) return cached._2
    val computed = computeStatistics()
    statsCache = (current, computed)
    computed
  }

  private def computeStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
    val delegated: Option[org.apache.spark.sql.connector.read.Statistics] =
      current match {
        case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
          Some(s.estimateStatistics())
        case _ => None
      }
    val live: Seq[ManifestTable.FileEntry] =
      livePaths match {
        // Some(Nil) keeps meaning EMPTY here — a statically-pruned-to-
        // nothing scan reports zero rows, not the whole table's count
        case Some(ps) => val keep = ps.toSet; m.files.filter(f => keep(f.path))
        case None => m.files
      }
    val exactRows = !m.hasMorDeletes
    val rowSum = live.map(_.rows).sum
    val aliases = ManifestSkipping.aliasesOf(m)
    val schema = DataFrameSchema.fromJson(m.schemaJson)
    val colStats = new java.util.HashMap[NamedReference, ColumnStatistics]()
    readSchema().fields.filter(f => schema.fieldNames.contains(f.name)).foreach { f =>
      val dt = f.dataType
      val keys = f.name +: aliases.getOrElse(f.name, Nil)
      def stat(mp: Map[String, Option[String]]): Option[Option[String]] =
        keys.collectFirst { case k if mp.contains(k) => mp(k) }
      // envelopes exist only for tracked-and-covered columns; a single
      // uncovered file forfeits min/max (its rows could hold the bound)
      val enveloped = m.track.contains(f.name) &&
        live.forall(fe => m.envelopeCovers(f.name, fe.seq))
      val (minV, maxV, nullLB) =
        if (!enveloped || live.isEmpty) (None, None, None)
        else {
          val per = live.map(fe => (stat(fe.mins).flatten, stat(fe.maxs).flatten, fe.rows))
          val mins = per.flatMap(_._1).map(s => ManifestSkipping.castStat(s, dt))
          val maxs = per.flatMap(_._2).map(s => ManifestSkipping.castStat(s, dt))
          if (mins.exists(_ == null) || maxs.exists(_ == null)) (None, None, None)
          else {
            val ord = org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(dt).asInstanceOf[Ordering[Any]]
            // rows of all-null-envelope files are definitely null — a
            // sound lower-bound null estimate (value files may add more)
            val nulls = per.collect { case (None, _, r) => r }.sum
            (mins.reduceOption((a, b) => ord.min(a, b)),
              maxs.reduceOption((a, b) => ord.max(a, b)), Some(nulls))
          }
        }
      val ndv: Option[Long] = MemberIndex.newest(dir, f.name)
        .filter(ix => MemberIndex.typeConsistent(ix, dir, dt))
        .flatMap(ix => MemberIndex.estimatedDistinct(ix, live.map(_.path)))
        .map(n => math.min(n, rowSum))
      if (minV.isDefined || maxV.isDefined || ndv.isDefined)
        colStats.put(Expressions.column(f.name), new ColumnStatistics {
          override def min(): java.util.Optional[Object] =
            minV.map(_.asInstanceOf[Object]).fold(
              java.util.Optional.empty[Object]())(java.util.Optional.of)
          override def max(): java.util.Optional[Object] =
            maxV.map(_.asInstanceOf[Object]).fold(
              java.util.Optional.empty[Object]())(java.util.Optional.of)
          override def nullCount(): java.util.OptionalLong =
            nullLB.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
          override def distinctCount(): java.util.OptionalLong =
            ndv.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
        })
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        delegated.map(_.sizeInBytes()).getOrElse(java.util.OptionalLong.empty())
      override def numRows(): java.util.OptionalLong =
        if (exactRows) java.util.OptionalLong.of(rowSum)
        else delegated.map(_.numRows()).getOrElse(java.util.OptionalLong.empty())
      override def columnStats(): java.util.Map[NamedReference, ColumnStatistics] =
        colStats
    }
  }

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = current.description()
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // A branch head is NOT a streamable baseline: branch-local version
    // numbers alias main versions, so checkpointed offsets would bind a
    // different snapshot after the branch is dropped and main advances.
    // This catches both routes onto a branch manifest — explicit
    // `VERSION AS OF 'branch'` and `spark.graft.wap.branch` read
    // routing — mirroring how non-append writes refuse while routing.
    fromBranch.foreach { b =>
      throw new UnsupportedOperationException(
        s"readStream of $dir resolved to branch '$b' (explicit branch read, or " +
          "spark.graft.wap.branch routing is on); branch manifests use branch-local " +
          "version numbers that a streaming checkpoint cannot bind durably. Stream " +
          "from main (unset spark.graft.wap.branch for the reading session), or " +
          "publish the branch (fastForward) first")
    }
    new GraftMicroBatchStream(spark, dir, m, options, pushed, required, checkpointLocation)
  }
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    current.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
}

object GraftLakeScan {
  /** Spec observability for runtime pruning: (planned, survived) of
    * the most recent runtime-filter application in this JVM. Runtime
    * pruning happens inside Spark's execution machinery where the spec
    * cannot reach the scan instance through AQE re-planning; a test
    * hook beats exposing internals on the public surface.
    */
  private[graft] val lastRuntimePrune =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)](null)
}

/** The one-row answer of a manifest-metadata aggregate pushdown
  * ([[GraftLakeScanBuilder.supportCompletePushDown]]): a driver-local
  * scan, zero file I/O, zero tasks.
  */
final class GraftAggScan(
    desc: String, out: StructType, row: InternalRow)
  extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = out
  override def description(): String = desc
  override def rows(): Array[InternalRow] = Array(row)
}

/** Multi-row local scan — the result-set shape for procedures that
  * return a table (CALL graft.system.profile) rather than one
  * version row.
  */
final class GraftRowsScan(
    desc: String, out: StructType, data: Array[InternalRow])
  extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = out
  override def description(): String = desc
  override def rows(): Array[InternalRow] = data
}

/** Wraps a scan to append one constant LONG column to every row —
  * how the `_version` metadata column materializes without touching
  * parquet bytes. Row-granular (the wrapper disables columnar reads
  * for this scan only), which is fine where it is used: metadata-
  * column projections and the row-level operations' rewrite reads.
  */
final class ConstLongAppendScan(
    inner: Scan, out: StructType, value: Long)
  extends Scan with org.apache.spark.sql.connector.read.Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  override def readSchema(): StructType = out
  override def description(): String = s"${inner.description()} +const(${out.fields.last.name}=$value)"
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  // runtime filters pass through to the wrapped lake scan (`b` stays
  // lazy, so partitions plan AFTER any runtime prune lands) — this is
  // what lets Spark's row-level group filtering narrow a rewrite whose
  // scan carries `_version`
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    inner match {
      case s: org.apache.spark.sql.connector.read.SupportsRuntimeFiltering => s.filterAttributes()
      case _ => Array.empty
    }
  override def filter(filters: Array[Filter]): Unit = inner match {
    case s: org.apache.spark.sql.connector.read.SupportsRuntimeFiltering => s.filter(filters)
    case _ => ()
  }

  private lazy val b = inner.toBatch
  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
    b.planInputPartitions()
  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new ConstLongAppendReaderFactory(b.createReaderFactory(), value)
}

final class ConstLongAppendReaderFactory(
    inner: org.apache.spark.sql.connector.read.PartitionReaderFactory, value: Long)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean = false

  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      private val const = InternalRow(value)
      override def next(): Boolean = r.next()
      override def get(): InternalRow = joined(r.get(), const)
      override def close(): Unit = r.close()
    }
  }
}
