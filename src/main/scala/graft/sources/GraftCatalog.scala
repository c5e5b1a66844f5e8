package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** A Spark `TableCatalog` over graftsink tables — the pure-SQL surface
  * of the sink: register once
  * (`spark.sql.catalog.graft = graft.sources.GraftCatalog`,
  * `spark.sql.catalog.graft.root = <dir>`) and the whole DDL/DML
  * lifecycle runs through Spark SQL against manifest-committed tables:
  *
  *  - `CREATE TABLE graft.ns.t (…)` publishes an empty manifest v0
  *    (the table exists transactionally from version zero);
  *  - `INSERT INTO` / `INSERT OVERWRITE` ride the batch write protocol
  *    (append / truncate manifests);
  *  - `SELECT … VERSION AS OF k` resolves time travel through the
  *    catalog's versioned `loadTable`;
  *  - `DELETE FROM … WHERE` is the table's copy-on-write delete (a
  *    fresh overwrite version — atomic, time-travelable);
  *  - `ALTER TABLE … ADD COLUMN` publishes a schema-evolution version
  *    (same files, evolved DDL — the reader's by-name reconciliation
  *    makes old files surface null);
  *  - namespaces are directories; tables are directories holding
  *    manifests;
  *  - maintenance rides SQL stored procedures
  *    (`CALL graft.system.vacuum(table => 'ns.t', keep_versions => 2)`,
  *    `CALL graft.system.compact(table => 'ns.t')`,
  *    `CALL graft.system.cluster(table => 'ns.t', by => 'k')`) — the
  *    retention contract is explicit: vacuum expires old versions, and a
  *    subsequent `VERSION AS OF` read of an expired version fails
  *    LOUDLY (`NoSuchTableException`), never returns partial data,
  *    because expiry removes the pinned manifest before any data file
  *    it referenced.
  *
  * Layout: `<root>/<ns…>/<table>/manifest-v*` — exactly the layout
  * `format("graftsink")` path reads use, so the catalog and the
  * path-based API interoperate on the same tables.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(sys.error(
      s"GraftCatalog '$name' needs spark.sql.catalog.$name.root = <dir>"))
  }
  override def name(): String = catalogName

  private def spark = SparkSession.active
  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dirFor(ident: Identifier): String =
    (root +: (ident.namespace() :+ ident.name())).mkString("/")
  private def isTableDir(p: Path): Boolean =
    fs.exists(p) && fs.listStatus(p).exists(
      _.getPath.getName.startsWith("manifest-v"))

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = new Path((root +: namespace).mkString("/"))
    if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(ns).filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirFor(ident)
    GraftSink.latestManifest(spark, dir) match {
      case Some(m) =>
        new GraftSinkTable(StructType.fromDDL(m.schemaDdl), dir)
      case None =>
        // Iceberg-style METADATA TABLES: `SELECT * FROM cat.ns.t.files`
        // resolves here with the table name as the LAST NAMESPACE
        // element — serve the manifest's own content as a table
        // (observability without any side channel: what files, what
        // bounds, what versions, all driver-side metadata)
        val kind = ident.name().toLowerCase
        if ((kind == "files" || kind == "history" || kind == "tags" ||
          kind == "segments" || kind == "stats") &&
          ident.namespace().nonEmpty) {
          val parent = Identifier.of(ident.namespace().init,
            ident.namespace().last)
          val pdir = dirFor(parent)
          if (isTableDir(new Path(pdir)))
            return new GraftMetaTable(kind, pdir, spark)
        }
        throw new NoSuchTableException(ident)
    }
  }

  /** `TIMESTAMP AS OF t` — resolves to the newest COMPLETE version
    * whose manifest was committed at or before `t` (manifest file
    * modification time; the rename that publishes a version stamps
    * it). Before-first-commit reads fail loudly.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirFor(ident)
    GraftSink.versionAtTimestamp(spark, dir, timestamp / 1000L) match {
      case Some(v) =>
        val m = GraftSink.manifestAt(spark, dir, Some(v)).get
        new GraftSinkTable(StructType.fromDDL(m.schemaDdl), dir,
          pinnedVersion = Some(v))
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF n` (a number) or `VERSION AS OF 'tag'` (a named
    * pin created by `CALL system.tag` — vacuum-exempt, so the pinned
    * training snapshot stays reproducible until untagged). The pinned
    * manifest supplies both schema and file set, so time travel
    * across schema changes reads old data under its own shape.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirFor(ident)
    val v = try GraftSink.resolveVersion(spark, dir, version)
    catch { case _: Throwable => throw new NoSuchTableException(ident) }
    val m = try GraftSink.manifestAt(spark, dir, Some(v))
    catch { case _: Throwable => None }
    m match {
      case Some(mf) => new GraftSinkTable(
        StructType.fromDDL(mf.schemaDdl), dir, pinnedVersion = Some(v))
      case None => throw new NoSuchTableException(ident)
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String])
      : Table = {
    require(partitions.isEmpty,
      "graftsink tables do not take PARTITIONED BY (file skipping " +
        "rides per-file column bounds instead)")
    val dir = dirFor(ident)
    if (isTableDir(new Path(dir)))
      throw new TableAlreadyExistsException(ident)
    GraftSink.checkSupported(schema)
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // the empty v0 manifest IS table existence — transactional from birth
    GraftSink.publish(spark, conf, dir, schema.toDDL, Seq.empty,
      truncate = true)
    new GraftSinkTable(schema, dir)
  }

  /** `ALTER TABLE … ADD COLUMN`: a schema-evolution publish — the new
    * version carries the SAME files under the evolved DDL; the
    * by-name reader surfaces null for the added column in every
    * pre-evolution file. Only top-level ADD COLUMN is supported;
    * renames/drops/retypes would silently corrupt the positional line
    * format and are refused.
    */
  /** Schema evolution, each change one manifest publish and ZERO data
    * rewrites: ADD COLUMN appends a nullable field (pre-evolution
    * files read null); RENAME COLUMN rewrites the recorded DDLs/stats
    * keys in the new manifest (the positional line parser never
    * matches the bytes' embedded keys, so the data is untouched and
    * prior versions time-travel to the old name); DROP COLUMN removes
    * the field from the TABLE schema only (files keep their recorded
    * shape for the parser; the reader prunes the field). Re-adding or
    * renaming onto a dropped name whose bytes still live is rejected
    * until a full cluster() rewrite frees it.
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = dirFor(ident)
    if (GraftSink.latestManifest(spark, dir).isEmpty)
      throw new NoSuchTableException(ident)
    changes.foreach {
      case a: TableChange.AddColumn if a.fieldNames().length == 1 =>
        GraftSink.addColumns(spark, dir, Seq(
          org.apache.spark.sql.types.StructField(a.fieldNames().head,
            a.dataType(), nullable = true)))
      case r: TableChange.RenameColumn if r.fieldNames().length == 1 =>
        GraftSink.renameColumn(spark, dir, r.fieldNames().head,
          r.newName())
      case d: TableChange.DeleteColumn if d.fieldNames().length == 1 =>
        GraftSink.dropColumn(spark, dir, d.fieldNames().head)
      case other => sys.error(
        s"graftsink: unsupported ALTER TABLE change $other " +
          "(top-level ADD/RENAME/DROP COLUMN)")
    }
    val m = GraftSink.latestManifest(spark, dir).get
    new GraftSinkTable(StructType.fromDDL(m.schemaDdl), dir)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(dirFor(ident))
    isTableDir(p) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    val src = new Path(dirFor(oldIdent))
    if (!isTableDir(src)) throw new NoSuchTableException(oldIdent)
    if (!Commit.placeDir(fs, src, new Path(dirFor(newIdent))))
      throw new TableAlreadyExistsException(newIdent)
  }

  // ---- stored procedures (maintenance surface) ----

  /** Resolves `CALL <catalog>.system.<proc>(…)`. Unknown names fail
    * loudly with the list of what exists.
    */
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    (ident.namespace().toSeq, ident.name().toLowerCase) match {
      case (Seq("system"), "vacuum")  => new GraftVacuumProcedure(this)
      case (Seq("system"), "compact") => new GraftCompactProcedure(this)
      case (Seq("system"), "cluster") => new GraftClusterProcedure(this)
      case (Seq("system"), "restore") => new GraftRestoreProcedure(this)
      case (Seq("system"), "clone")   => new GraftCloneProcedure(this)
      case (Seq("system"), "clone_sync") =>
        new GraftCloneSyncProcedure(this)
      case (Seq("system"), "tag")     => new GraftTagProcedure(this)
      case (Seq("system"), "untag")   => new GraftUntagProcedure(this)
      case (Seq("system"), "fsck")    => new GraftFsckProcedure(this)
      case (Seq("system"), "promote") => new GraftPromoteProcedure(this)
      case _ => sys.error(
        s"graftsink: no procedure ${ident.namespace().mkString(".")}." +
          s"${ident.name()} (have: system.vacuum, system.compact, " +
          "system.cluster, system.restore, system.clone, " +
          "system.clone_sync, system.tag, system.untag, system.fsck, " +
          "system.promote)")
    }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      Array(Identifier.of(Array("system"), "vacuum"),
        Identifier.of(Array("system"), "compact"),
        Identifier.of(Array("system"), "cluster"),
        Identifier.of(Array("system"), "restore"),
        Identifier.of(Array("system"), "clone"),
        Identifier.of(Array("system"), "clone_sync"),
        Identifier.of(Array("system"), "tag"),
        Identifier.of(Array("system"), "untag"),
        Identifier.of(Array("system"), "fsck"),
        Identifier.of(Array("system"), "promote"))
    else Array.empty

  /** A procedure's dotted `'ns.t'` argument → the table directory;
    * refuses missing tables before any destructive step runs.
    */
  private[sources] def tableDirOrFail(dotted: String): String = {
    val parts = dotted.split("\\.")
    val ident = Identifier.of(parts.init, parts.last)
    val dir = dirFor(ident)
    if (!isTableDir(new Path(dir))) throw new NoSuchTableException(ident)
    dir
  }

  /** A procedure's dotted `'ns.t'` argument → the directory a NEW
    * table would occupy; refuses an already-existing table (clone
    * creates tables, never merges into one). The table self-registers
    * by existence once its first manifest publishes — the same
    * dir-mapped discovery `listTables`/`loadTable` use.
    */
  private[sources] def tableDirForCreate(dotted: String): String = {
    val parts = dotted.split("\\.")
    val ident = Identifier.of(parts.init, parts.last)
    val dir = dirFor(ident)
    if (isTableDir(new Path(dir)))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    dir
  }

  private[sources] def session: SparkSession = spark

  // ---- namespaces (directories) ----

  override def listNamespaces(): Array[Array[String]] = {
    val r = new Path(root)
    if (!fs.exists(r)) Array.empty
    else fs.listStatus(r)
      .filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val ns = new Path((root +: namespace).mkString("/"))
      if (!fs.exists(ns)) throw new NoSuchNamespaceException(namespace)
      fs.listStatus(ns)
        .filter(s => s.isDirectory && !isTableDir(s.getPath))
        .map(s => namespace :+ s.getPath.getName)
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    fs.exists(new Path((root +: namespace).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String])
      : JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    if (namespaceExists(namespace))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(new Path((root +: namespace).mkString("/")))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    sys.error("graftsink namespaces carry no metadata to alter")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = new Path((root +: namespace).mkString("/"))
    if (!fs.exists(p)) false
    else {
      if (!cascade && fs.listStatus(p).nonEmpty)
        sys.error(s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(p, true)
    }
  }
}

/** Driver-side single-row result for a maintenance procedure: the
  * stats are already in hand when the procedure returns, so the scan
  * is a `LocalScan` — no job, no partitions.
  */
private class GraftProcResultScan(schema: StructType, row: Seq[Any])
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = Array(
    new GenericInternalRow(row.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    }.toArray))
}

/** `CALL <cat>.system.vacuum(table => 'ns.t', keep_versions => k,
  * grace_ms => ms)` — [[GraftSink.vacuum]] behind SQL: expires all but
  * the newest `keep_versions` complete manifests, then collects data
  * files and staging dirs nothing surviving references, honoring the
  * in-flight-commit grace window. Returns one row of what it did.
  */
private class GraftVacuumProcedure(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "vacuum"
  override def description(): String =
    "expire old graftsink versions and collect unreferenced files"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("keep_versions", IntegerType)
      .defaultValue("2").build(),
    ProcedureParameter.in("grace_ms", LongType)
      .defaultValue("3600000").build(),
    ProcedureParameter.in("retain_ms", LongType)
      .defaultValue("-1").build()) // -1 = count-based retention only
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = catalog.tableDirOrFail(input.getUTF8String(0).toString)
    val stats = GraftSink.vacuum(catalog.session, dir,
      keepVersions = input.getInt(1), graceMs = input.getLong(2),
      retainMs = input.getLong(3))
    java.util.List.of[Scan](new GraftProcResultScan(
      StructType(Seq(
        StructField("expired_versions", StringType, nullable = false),
        StructField("deleted_data_files", IntegerType, nullable = false),
        StructField("deleted_staging_dirs", IntegerType,
          nullable = false))),
      Seq(stats.expiredVersions.mkString(","),
        stats.deletedDataFiles, stats.deletedStagingDirs))).iterator()
  }
}

/** `CALL <cat>.system.compact(table => 'ns.t', target_bytes => …,
  * small_bytes => …)` — [[GraftSink.compact]] behind SQL: bins small
  * files into ~target-size groups and merges each by byte
  * concatenation in one Spark job. Returns one row of group/file
  * counts.
  */
private class GraftCompactProcedure(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "compact"
  override def description(): String =
    "merge small graftsink data files into ~target-size files"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("target_bytes", LongType)
      .defaultValue((128L * 1024 * 1024).toString).build(),
    ProcedureParameter.in("small_bytes", LongType)
      .defaultValue((32L * 1024 * 1024).toString).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = catalog.tableDirOrFail(input.getUTF8String(0).toString)
    val stats = GraftSink.compact(catalog.session, dir,
      targetBytes = input.getLong(1), smallBytes = input.getLong(2))
    java.util.List.of[Scan](new GraftProcResultScan(
      StructType(Seq(
        StructField("groups_merged", IntegerType, nullable = false),
        StructField("files_before", IntegerType, nullable = false),
        StructField("files_after", IntegerType, nullable = false))),
      Seq(stats.groupsMerged, stats.filesBefore, stats.filesAfter)))
      .iterator()
  }
}

/** `CALL <cat>.system.cluster(table => 'ns.t', by => 'k1,k2',
  * target_bytes => …)` — [[GraftSink.cluster]] behind SQL: rewrites
  * the table range-clustered on the named columns so manifest-bounds
  * skipping prunes probes on them. Returns one row of file counts.
  */
private class GraftClusterProcedure(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "cluster"
  override def description(): String =
    "rewrite a graftsink table range-clustered on the given columns"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("by", StringType).build(),
    ProcedureParameter.in("target_bytes", LongType)
      .defaultValue((128L * 1024 * 1024).toString).build(),
    ProcedureParameter.in("zorder",
      org.apache.spark.sql.types.BooleanType)
      .defaultValue("false").build(),
    ProcedureParameter.in("only_new",
      org.apache.spark.sql.types.BooleanType)
      .defaultValue("false").build(),
    ProcedureParameter.in("incremental",
      org.apache.spark.sql.types.BooleanType)
      .defaultValue("false").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = catalog.tableDirOrFail(input.getUTF8String(0).toString)
    val cols = input.getUTF8String(1).toString.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    val stats = GraftSink.cluster(catalog.session, dir, cols,
      targetBytes = input.getLong(2), zorder = input.getBoolean(3),
      onlyNew = input.getBoolean(4),
      incremental = input.getBoolean(5))
    java.util.List.of[Scan](new GraftProcResultScan(
      StructType(Seq(
        StructField("files_before", IntegerType, nullable = false),
        StructField("files_after", IntegerType, nullable = false),
        StructField("rows_rewritten", LongType, nullable = false))),
      // Seq[Any] pins element types: an unascribed Seq(Int, Int, Long)
      // numeric-widens every element to Long and the Int fields would
      // unbox-crash in the output projection
      Seq[Any](stats.filesBefore, stats.filesAfter, stats.rows)))
      .iterator()
  }
}

/** Iceberg-style metadata table over a graftsink table's manifests:
  * `cat.ns.t.files` = the CURRENT manifest's file entries (name, rows,
  * bytes, rewrite flag, column-bounds JSON); `cat.ns.t.history` = one
  * row per surviving complete version (version, file/row counts,
  * streaming epoch, commit time). Rows come straight off driver-side
  * manifest metadata — a `LocalScan`, no job, zero data files opened.
  */
private class GraftMetaTable(kind: String, dir: String,
    spark: SparkSession)
    extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
  import org.apache.spark.sql.types.TimestampType

  override def name(): String = s"graftsink:$dir#$kind"
  override def schema(): StructType = kind match {
    case "files" => StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("rewrite", BooleanType, nullable = false),
      StructField("stats", StringType, nullable = false)))
    case "tags" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false)))
    case "segments" => StructType(Seq(
      StructField("segment", StringType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("bounds", StringType, nullable = false)))
    case "stats" => StructType(Seq(
      StructField("column", StringType, nullable = false),
      // merged from the per-file NDV sketches (exact when every file
      // stayed in the sparse-exact regime and the union fits it;
      // ~13% HLL estimate otherwise); -1 = unknown (legacy files)
      StructField("ndv", LongType, nullable = false),
      StructField("ndv_exact", BooleanType, nullable = false),
      StructField("null_count", LongType, nullable = false),
      // interval-union bounds in the manifest's internal rendering
      // (string bounds may be truncated/incremented prefixes)
      StructField("min", StringType, nullable = true),
      StructField("max", StringType, nullable = true)))
    case _ => StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("rows", LongType, nullable = false),
      StructField("epoch", LongType, nullable = true),
      StructField("committed_at", TimestampType, nullable = false)))
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = schema()
        override def rows(): Array[InternalRow] = kind match {
          case "tags" =>
            GraftSink.tags(spark, dir).toSeq.sortBy(_._1).map {
              case (n, v) => new GenericInternalRow(Array[Any](
                UTF8String.fromString(n), v)): InternalRow
            }.toArray
          case "segments" =>
            // the manifest-list layer itself: one row per segment ref
            // (+ one synthetic "(inline)" row for the loose tail), all
            // without resolving a single segment file
            GraftSink.latestManifest(spark, dir).toSeq.flatMap { m =>
              m.refs.map(r => new GenericInternalRow(Array[Any](
                UTF8String.fromString(r.name), r.count, r.rows,
                r.bytes, UTF8String.fromString(r.statsJson)))
                : InternalRow) ++
                (if (m.inline.isEmpty) Nil
                else Seq(new GenericInternalRow(Array[Any](
                  UTF8String.fromString("(inline)"), m.inline.size,
                  m.inline.map(_.rows).filter(_ >= 0).sum,
                  m.inline.map(_.bytes).filter(_ >= 0).sum,
                  UTF8String.fromString(""))): InternalRow))
            }.toArray
          case "stats" =>
            // the CBO feed made visible: per column, the table-level
            // NDV/null-count merge the scan reports, plus the
            // interval-union bounds — all driver-side metadata,
            // served from the per-version memo (committed versions
            // are immutable; the fold runs once per JVM)
            GraftSink.latestManifest(spark, dir).toSeq.flatMap { m =>
              val cols = StructType.fromDDL(m.schemaDdl).fieldNames.toSeq
              val (merged, unionBounds) =
                GraftSink.versionColumnStats(dir, m)
              cols.map { c =>
                val (ndv, exact, nulls) =
                  merged.getOrElse(c, (-1L, false, -1L))
                val b = unionBounds.get(c)
                new GenericInternalRow(Array[Any](
                  UTF8String.fromString(c), ndv, exact, nulls,
                  b.map(x => UTF8String.fromString(x._1.toString)).orNull,
                  b.map(x => UTF8String.fromString(x._2.toString)).orNull))
                  : InternalRow
              }
            }.toArray
          case "files" =>
            GraftSink.latestManifest(spark, dir).toSeq
              .flatMap(_.files).map { f =>
                new GenericInternalRow(Array[Any](
                  UTF8String.fromString(f.name), f.rows, f.bytes,
                  f.rewrite, UTF8String.fromString(f.statsJson)))
                  : InternalRow
              }.toArray
          case _ =>
            GraftSink.history(spark, dir).map {
              case (v, nf, rows, epoch, modMs) =>
                new GenericInternalRow(Array[Any](
                  v, nf, rows, epoch.map(Long.box).orNull,
                  modMs * 1000L)): InternalRow
            }.toArray
        }
      }
    }
}

/** `CALL <cat>.system.restore(table => 'ns.t', version => v)` —
  * [[GraftSink.restore]] behind SQL: republish a prior version's file
  * list as the new head (no copy, no delete; the skipped-over history
  * stays travelable). Returns the new head version.
  */
/** `CALL <cat>.system.tag(table => 'ns.t', name => 'run-2026-08',
  * version => v)` — a named, vacuum-exempt version pin
  * ([[GraftSink.tag]]); version defaults to the head. Read it back
  * with `VERSION AS OF 'run-2026-08'`. The reproducible-training-run
  * contract: the tagged corpus snapshot outlives retention until
  * `system.untag` releases it.
  */
private class GraftTagProcedure(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "tag"
  override def description(): String =
    "pin a graftsink version under a vacuum-exempt name"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("name", StringType).build(),
    ProcedureParameter.in("version", IntegerType)
      .defaultValue("-1").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = catalog.tableDirOrFail(input.getUTF8String(0).toString)
    val v = input.getInt(2)
    val pinned = GraftSink.tag(catalog.session, dir,
      input.getUTF8String(1).toString,
      if (v < 0) None else Some(v))
    java.util.List.of[Scan](new GraftProcResultScan(
      StructType(Seq(
        StructField("name", StringType, nullable = false),
        StructField("pinned_version", IntegerType, nullable = false))),
      Seq[Any](input.getUTF8String(1).toString, pinned))).iterator()
  }
}

/** `CALL <cat>.system.untag(table => 'ns.t', name => '…')` — drop a
  * tag; the version re-enters normal retention at the next vacuum.
  */
private class GraftUntagProcedure(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "untag"
  override def description(): String = "drop a graftsink version tag"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("name", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = catalog.tableDirOrFail(input.getUTF8String(0).toString)
    val existed = GraftSink.untag(catalog.session, dir,
      input.getUTF8String(1).toString)
    java.util.List.of[Scan](new GraftProcResultScan(
      StructType(Seq(
        StructField("existed", BooleanType, nullable = false))),
      Seq[Any](existed))).iterator()
  }
}

/** `CALL <cat>.system.clone(source => 'ns.t', target => 'ns.t2'
  * [, version => k])` — snapshot export as a SQL procedure: deep
  * clone of one source version (default: head) into a brand-new
  * catalog table via [[GraftSink.cloneSnapshot]] (distributed byte
  * copy + one stats-carrying manifest publish, zero recompute). The
  * target registers by existence like every dir-mapped table.
  */
private class GraftCloneProcedure(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "clone"
  override def description(): String =
    "deep-clone one version of a graftsink table into a new table"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("source", StringType).build(),
    ProcedureParameter.in("target", StringType).build(),
    ProcedureParameter.in("version", IntegerType)
      .defaultValue("-1").build()) // -1 = the source head
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val src = catalog.tableDirOrFail(input.getUTF8String(0).toString)
    val dst = catalog.tableDirForCreate(input.getUTF8String(1).toString)
    val v = input.getInt(2)
    val files = GraftSink.cloneSnapshot(catalog.session, src, dst,
      if (v < 0) None else Some(v))
    java.util.List.of[Scan](new GraftProcResultScan(
      StructType(Seq(
        StructField("cloned_files", IntegerType, nullable = false))),
      Seq[Any](files))).iterator()
  }
}

/** `CALL <cat>.system.fsck(table => 'ns.t' [, deep => true])` —
  * read-only integrity probe ([[GraftSink.fsck]]): every surviving
  * manifest must resolve and every referenced data file must exist at
  * its recorded size (distributed check, O(damage) returned);
  * unreferenced debris is counted separately because vacuum, not
  * fsck, owns its lifecycle. `deep` additionally re-hashes every
  * referenced file's CONTENT against the manifest's recorded XXH64 —
  * the probe that catches same-size corruption; entries recorded by
  * pre-checksum manifests are DECLINED and surfaced in
  * `unverified_files` (never silently passed). One row of counts plus
  * a detail sample naming what to look at.
  */
private class GraftFsckProcedure(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "fsck"
  override def description(): String =
    "verify manifest/data-file integrity of a graftsink table"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("deep", BooleanType)
      .defaultValue("false").build(),
    // the scheduled-cadence form of a deep pass: re-hash only entries
    // first referenced AFTER the persisted deep-verification
    // watermark — O(new data); a FULL drill (since_verified => false)
    // remains the catch-everything check
    ProcedureParameter.in("since_verified", BooleanType)
      .defaultValue("false").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = catalog.tableDirOrFail(input.getUTF8String(0).toString)
    val deep = input.getBoolean(1)
    val sinceVerified = input.getBoolean(2)
    val r = GraftSink.fsck(catalog.session, dir, deep, sinceVerified)
    val detail = (r.missingFiles.take(3).map("missing: " + _) ++
      r.sizeMismatches.take(3) ++
      r.checksumMismatches.take(3) ++
      r.unreadableVersions.take(3).map(v => s"unreadable: v$v") ++
      (if (r.unverifiedFiles > 0)
        Seq(s"${r.unverifiedFiles} file(s) carry no recorded " +
          "checksum (pre-checksum manifest) — content NOT verified")
      else Seq.empty))
      .mkString("; ")
    java.util.List.of[Scan](new GraftProcResultScan(
      StructType(Seq(
        StructField("clean", BooleanType, nullable = false),
        StructField("versions_checked", IntegerType, nullable = false),
        StructField("files_checked", IntegerType, nullable = false),
        StructField("missing_files", IntegerType, nullable = false),
        StructField("size_mismatches", IntegerType, nullable = false),
        StructField("checksum_mismatches", IntegerType,
          nullable = false),
        StructField("unverified_files", IntegerType, nullable = false),
        StructField("unreadable_versions", IntegerType, nullable = false),
        StructField("unreferenced_data_files", IntegerType,
          nullable = false),
        StructField("unreferenced_segments", IntegerType,
          nullable = false),
        StructField("content_hashed", IntegerType, nullable = false),
        StructField("skipped_verified", IntegerType, nullable = false),
        StructField("verified_through", IntegerType, nullable = false),
        StructField("detail", StringType, nullable = false))),
      Seq[Any](r.clean, r.versionsChecked, r.filesChecked,
        r.missingFiles.size, r.sizeMismatches.size,
        r.checksumMismatches.size, r.unverifiedFiles,
        r.unreadableVersions.size, r.unreferencedDataFiles,
        r.unreferencedSegments, r.contentHashed, r.skippedVerified,
        r.verifiedThrough, detail))).iterator()
  }
}

/** `CALL <cat>.system.clone_sync(source => 'ns.t', target => 'ns.t2'
  * [, version => k])` — incremental replication: copy only the file
  * delta since the last clone/sync and republish the target head as
  * the source snapshot — the head by default, or a pinned source
  * version (re-sync a DR replica to an exact historical snapshot).
  * Source tags carry over ([[GraftSink.cloneSync]]).
  */
private class GraftCloneSyncProcedure(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "clone_sync"
  override def description(): String =
    "incrementally re-sync a cloned graftsink table to the source head"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("source", StringType).build(),
    ProcedureParameter.in("target", StringType).build(),
    ProcedureParameter.in("version", IntegerType)
      .defaultValue("-1").build(), // -1 = the source head
    ProcedureParameter.in("force", BooleanType)
      .defaultValue("false").build()) // discard diverged local head
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val src = catalog.tableDirOrFail(input.getUTF8String(0).toString)
    val dst = catalog.tableDirOrFail(input.getUTF8String(1).toString)
    val v = input.getInt(2)
    val copied = GraftSink.cloneSync(catalog.session, src, dst,
      if (v < 0) None else Some(v), force = input.getBoolean(3))
    java.util.List.of[Scan](new GraftProcResultScan(
      StructType(Seq(
        StructField("copied_files", IntegerType, nullable = false))),
      Seq[Any](copied))).iterator()
  }
}

/** `CALL <cat>.system.promote(table => 'ns.t')` — DR failover: make a
  * replica a first-class table ([[GraftSink.promote]]). Clears
  * replication's head ownership with a promotion commit and drops the
  * fence marker that makes every later `clone_sync` from the old
  * source refuse loudly. Local writers may take the head once the
  * call returns; re-replication requires a fresh `clone` to a new
  * directory (or an explicit `force => true` sync to re-subjugate).
  */
private class GraftPromoteProcedure(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "promote"
  override def description(): String =
    "promote a graftsink replica to a first-class table (failover)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = catalog.tableDirOrFail(input.getUTF8String(0).toString)
    val v = GraftSink.promote(catalog.session, dir)
    java.util.List.of[Scan](new GraftProcResultScan(
      StructType(Seq(
        StructField("promoted_version", IntegerType, nullable = false))),
      Seq[Any](v))).iterator()
  }
}

private class GraftRestoreProcedure(catalog: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "restore"
  override def description(): String =
    "roll a graftsink table back to a prior version as a new commit"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("version", IntegerType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = catalog.tableDirOrFail(input.getUTF8String(0).toString)
    val head = GraftSink.restore(catalog.session, dir, input.getInt(1))
    java.util.List.of[Scan](new GraftProcResultScan(
      StructType(Seq(
        StructField("restored_version", IntegerType, nullable = false),
        StructField("new_head", IntegerType, nullable = false))),
      Seq[Any](input.getInt(1), head))).iterator()
  }
}
