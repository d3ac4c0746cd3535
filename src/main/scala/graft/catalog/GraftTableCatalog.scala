package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsDelete, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableCatalogCapability, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** V2 `TableCatalog` plugin putting [[CommitLog]] tables behind catalog
  * names, so plain `spark.sql` reaches the commit log — the named-table
  * front door the reference's mono-backend dispatch implies (one backend
  * behind every route, swagger/aws-dl-fmwrk-swagger-apigateway.yaml:30,
  * 114,198):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftTableCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "s3://bucket/wh")
  *   spark.sql("CREATE TABLE graft.db.t (k BIGINT, v STRING)")
  *   spark.sql("INSERT INTO graft.db.t VALUES (1, 'a')")
  *   spark.sql("SELECT * FROM graft.db.t VERSION AS OF 1")
  *   spark.sql("DELETE FROM graft.db.t WHERE k < 10")
  * }}}
  *
  * Layout: `<warehouse>/<namespace>/<table>` is a CommitLog root; the
  * declared schema lives in the table descriptor beside the log
  * ([[TableMeta]]; a delete-all commit leaves zero pool files, so footers
  * alone cannot carry the schema of an empty table). One namespace
  * level, mirroring the reference's `<source>/<asset>` addressing.
  *
  * Scale posture: reads delegate to Spark's own parquet V2 scan over the
  * snapshot's immutable file list — full pushdown/pruning/vectorization,
  * nothing bespoke in the hot path. Writes are manifest commits
  * (append / truncate-replace); `DELETE WHERE` is the predicate CoW of
  * [[CommitLog.rewriteWhere]], rewriting only files that contain
  * matching rows (merge-on-read tombstones on partitioned tables). SQL
  * MERGE/UPDATE ride Spark's group-based row-level rewrite through the
  * V2 batch write; on a hive-partitioned table the staged rows are
  * re-staged under the partition subdirs so the layout and its pruning
  * survive — the file-pruned single-write upsert is the DataFrame plane
  * ([[CommitLog.merge]], itself partition-aware).
  */
class GraftTableCatalog extends TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.FunctionCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  /** The analyzer gates DEFAULT-valued columns and ALTER TABLE
    * ADD/DROP CONSTRAINT on these catalog capabilities; both map onto
    * machinery the engine already owns (declared-schema field metadata;
    * `CommitLog.addConstraint`'s `#check:` header).
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** Function catalog: serves the hidden-partition `bucket` function so
    * Spark's storage-partitioned-join resolution can bind the
    * `bucket(n, col)` transform two bucket-layout scans report and
    * recognize them as co-partitioned ([[GraftBucketFunction]]).
    */
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    Array(Identifier.of(namespace, "bucket"))
  }

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  private def spark = SparkSession.active
  private def fs = HadoopFs.fs(spark, warehouse)

  private[catalog] def sparkSession: SparkSession = spark

  /** `db.table` → existing table root (procedures address tables as one
    * string argument, not parsed identifiers).
    */
  private[catalog] def rootOf(qualified: String): String = {
    val root = qualified.split('.') match {
      case Array(db, t) => new Path(nsPath(db), t)
      case _ => throw new IllegalArgumentException(
        s"expected <namespace>.<table>, got '$qualified'")
    }
    if (!isTable(root)) throw new NoSuchTableException(qualified.split('.').toSeq)
    root.toString
  }

  /** Like [[rootOf]] but tolerates a not-yet-existing table (import target). */
  private[catalog] def rootForCreate(qualified: String): String =
    qualified.split('.') match {
      case Array(db, t) =>
        if (!fs.exists(nsPath(db))) throw new NoSuchNamespaceException(Array(db))
        new Path(nsPath(db), t).toString
      case _ => throw new IllegalArgumentException(
        s"expected <namespace>.<table>, got '$qualified'")
    }

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new IllegalArgumentException(
        s"procedures live under $catalogName.system, got ${ident.namespace().mkString(".")}")
    GraftProcedures(this, ident.name())
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(throw new IllegalArgumentException(
      s"spark.sql.catalog.$name.warehouse must point at a directory"))
  }

  override def name(): String = catalogName

  private def ns1(ns: Array[String]): String = ns match {
    case Array(db) => db
    case _         => throw new NoSuchNamespaceException(ns)
  }
  private def nsPath(db: String) = new Path(warehouse, db)
  private def tableRoot(ident: Identifier) =
    new Path(nsPath(ns1(ident.namespace())), ident.name())

  /** A table dir is one holding committed data or a declared schema —
    * raw CommitLog tables dropped into the warehouse by the DataFrame
    * plane are addressable without re-registration.
    */
  private def isTable(root: Path): Boolean =
    fs.exists(new Path(root, "_commits")) ||
      TableMeta.read(fs, root.toString).schema.isDefined

  // ---- namespaces --------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val w = new Path(warehouse)
    if (!fs.exists(w)) Array.empty
    else fs.listStatus(w).filter(_.isDirectory).map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else if (namespaceExists(ns)) Array.empty   // single-level namespaces
    else throw new NoSuchNamespaceException(ns)

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.length == 1 && fs.exists(nsPath(ns(0)))

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] =
    if (namespaceExists(ns)) Map("location" -> nsPath(ns1(ns)).toString).asJava
    else throw new NoSuchNamespaceException(ns)

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(ns)) throw new NamespaceAlreadyExistsException(ns)
    fs.mkdirs(nsPath(ns1(ns))): Unit
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no mutable metadata")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    if (!cascade && listTables(ns).nonEmpty) throw new IllegalStateException(
      s"namespace ${ns.mkString(".")} is not empty; use CASCADE")
    fs.delete(nsPath(ns1(ns)), true)
  }

  // ---- tables ------------------------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    fs.listStatus(nsPath(ns1(ns)))
      .filter(s => s.isDirectory && isTable(s.getPath))
      // `<table>__dlq` twins (a strict replica's dead-letter inbox,
      // [[graft.stream.Replicate]]) are internal sidecars, not tables:
      // listing them would hand them to maintenance sweeps and failover
      // walks as independent tables. Still loadable BY NAME for
      // inspection/replay.
      .filterNot(_.getPath.getName.endsWith("__dlq"))
      .map(s => Identifier.of(ns, s.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace().length == 1 && isTable(tableRoot(ident))

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) {
      metadataTable(ident) match {
        case Some(t) => return t
        case None    => throw new NoSuchTableException(ident)
      }
    }
    handle(ident, None)
  }

  /** A handle on `ident`'s root, pinned to `version` when time-travelling. */
  private def handle(ident: Identifier, version: Option[Long]): GraftTable = {
    val root = tableRoot(ident).toString
    new GraftTable(spark, fullName(ident), root, GraftTable.resolve(spark, root), version)
  }

  /** `<cat>.<db>.<t>.files`-style metadata tables (files / history /
    * snapshots / refs / partitions): the analyzer hands them to us as
    * namespace `[db, t]` + name `files`. Real tables only live under
    * length-1 namespaces, so the suffix space can never shadow one.
    */
  private def metadataTable(ident: Identifier): Option[Table] = {
    val ns = ident.namespace()
    val kind = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (ns.length == 2 &&
        (GraftMetadataTable.Kinds.contains(kind) || kind == "changes")) {
      val parent = Identifier.of(Array(ns(0)), ns(1))
      if (!tableExists(parent)) None
      // `<t>.changes` — the streaming change feed (readStream.table),
      // not a manifest-sized local view like the other suffixes. The
      // feed surfaces LOGICAL names: the rename mapping travels so the
      // per-version staging can relabel the pool's physical columns.
      else if (kind == "changes") {
        val declared = TableMeta.read(fs, tableRoot(parent).toString).schema
        Some(new GraftChangesTable(spark, s"${fullName(parent)}.changes",
          tableRoot(parent).toString, loadTable(parent).schema(),
          declared.map(ColumnMapping.renames).getOrElse(Map.empty)))
      }
      else
        Some(new GraftMetadataTable(spark,
          s"${fullName(parent)}.$kind", tableRoot(parent).toString, kind))
    } else None
  }

  /** `VERSION AS OF v` — the commit log's native time travel. A
    * non-numeric version is a named ref: a tag pins the tagged main
    * version; a branch serves the fork's own head (read-only — branch
    * writes go through `CommitLog.branchLog` / the WAP procedures).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) {
      // `t.files VERSION AS OF v` — metadata suffixes time-travel too
      // (numeric versions only; files/partitions pin, chain-level views
      // ignore the pin)
      metadataTable(ident) match {
        case Some(_) =>
          if (ident.name().equalsIgnoreCase("changes"))
            throw new IllegalArgumentException(
              "the .changes feed does not time-travel — its offsets ARE " +
                "commit versions; start a fresh checkpoint instead")
          val parent = Identifier.of(Array(ident.namespace()(0)), ident.namespace()(1))
          val v = try version.toLong catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"metadata table ${fullName(parent)}.${ident.name()} supports " +
                s"numeric VERSION AS OF only, got '$version'")
          }
          return new GraftMetadataTable(spark,
            s"${fullName(parent)}.${ident.name()}@$v",
            tableRoot(parent).toString,
            ident.name().toLowerCase(java.util.Locale.ROOT), Some(v))
        case None => throw new NoSuchTableException(ident)
      }
    }
    val root = tableRoot(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        val log = new CommitLog(spark, root.toString)
        return log.ref(version) match {
          case Some(r) if r.kind == "tag" => handle(ident, Some(r.version))
          case Some(_) => // branch: its own commit chain, unpartitioned
            new GraftTable(spark, s"${fullName(ident)}@$version",
              log.branchRootPath(version),
              GraftTable.resolve(spark, root.toString).copy(partCols = Nil), None)
          case None => throw new IllegalArgumentException(
            s"'$version' is neither a commit number nor a ref (tag/branch) " +
              s"of ${fullName(ident)} " +
              s"(refs: ${log.refs.keys.toSeq.sorted.mkString(", ")})")
        }
    }
    // fail at resolution with the live range, not at scan time with a
    // raw FileNotFoundException from the manifest read
    val log = new CommitLog(spark, root.toString)
    if (!log.isCommitted(v)) {
      val head = log.currentVersion
      throw new IllegalArgumentException(
        s"version $v is not available for ${fullName(ident)}" +
          head.map(h => s" (head: $h; older versions may be vacuumed)")
            .getOrElse(" (table has no commits)"))
    }
    handle(ident, Some(v))
  }

  /** `TIMESTAMP AS OF t` — micros from Spark, resolved against manifest
    * publication instants.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val root = tableRoot(ident)
    val log = new CommitLog(spark, root.toString)
    val v = log.versionAsOf(timestampMicros / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"no commit at or before timestamp $timestampMicros under $root"))
    handle(ident, Some(v))
  }

  private def fullName(ident: Identifier): String =
    s"$catalogName.${ns1(ident.namespace())}.${ident.name()}"

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (!namespaceExists(ident.namespace())) throw new NoSuchNamespaceException(ident.namespace())
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // PARTITIONED BY (col, ...) — identity transforms give the hive
    // layout; years/months/days/hours/bucket/truncate become HIDDEN
    // partition transforms (declared in the descriptor, derived `_p_*`
    // layout, [[CommitLog.commitTransformed]] writes, reads never see them).
    // Mixing the two planes in one table is refused.
    val (identities, transforms) = partitions.toSeq.partition(_.name == "identity")
    require(identities.isEmpty || transforms.isEmpty,
      s"PARTITIONED BY mixes identity columns and transforms " +
        s"(${partitions.mkString(", ")}) — pick one plane per table")
    val transformSpecs = transforms.map { t =>
      import org.apache.spark.sql.connector.expressions.{Literal => VLiteral, NamedReference}
      val refs = t.arguments.toSeq.collect {
        case r: NamedReference => r.fieldNames.mkString(".") }
      val lits = t.arguments.toSeq.collect {
        case l: VLiteral[_] => String.valueOf(l.value) }
      (t.name.toLowerCase(java.util.Locale.ROOT), refs, lits) match {
        case (k @ ("years" | "months" | "days" | "hours" |
            "year" | "month" | "day" | "hour"), Seq(c), Seq()) => s"$k($c)"
        case (k @ ("bucket" | "truncate"), Seq(c), Seq(n)) => s"$k($n, $c)"
        case _ => throw new UnsupportedOperationException(
          s"unsupported partition transform $t (have: identity, " +
            "years/months/days/hours(col), bucket(n, col), truncate(w, col))")
      }
    }
    val partCols = identities.map(_.references.head.fieldNames.mkString("."))
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in schema ${schema.fieldNames.toSeq}"))
    val root = tableRoot(ident).toString
    val parsed = transformSpecs.map(new CommitLog(spark, root).parseTransformOn(schema, _))
    // TBLPROPERTIES: keep the user's keys, drop the engine-/Spark-
    // injected ones (they derive from the catalog, not the descriptor)
    val userProps = properties.asScala.toMap --
      Seq("provider", "location", "owner", "external", "is_managed_location")
    fs.mkdirs(new Path(root))
    TableMeta.update(fs, root)(_ => TableMeta(Some(schema), partCols, parsed, userProps)): Unit
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val root = tableRoot(ident)
    val table = handle(ident, None)
    // the EFFECTIVE schema (declared schema widened by any `#schema:`
    // library evolution) — an evolved column must be ALTER-able (rename,
    // drop, retype) like any declared one; declared field metadata is
    // preserved because the widened schema starts from the declared fields
    var schema = table.schema
    val partCols = table.meta.partCols.toSet
    // a hidden-partition transform records its SOURCE column by name:
    // renaming or dropping it would orphan the layout (future writes
    // crash on the missing column; pruning dies silently)
    val transformSrcs = table.transforms.map(_.src).toSet
    var (dropped, seq) = (table.meta.dropped, table.meta.seq)
    var widens = false
    var propEdits: Map[String, String] => Map[String, String] = identity
    // physical names EVER used must never rebind to different bytes: live
    // physicals + the dropped registry together are the reserved set
    def reserved: Set[String] =
      schema.fields.map(ColumnMapping.physicalName).toSet ++ dropped
    changes.foreach {
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        val name = add.fieldNames()(0)
        require(!schema.fieldNames.contains(name),
          s"ADD COLUMN $name: column already exists")
        // a re-added name whose physical slot is taken (dropped earlier,
        // or surrendered by a rename) binds to a FRESH physical name —
        // matching by name would resurrect the old column's bytes
        val field0 =
          if (!reserved.contains(name))
            StructField(name, add.dataType(), nullable = true)
          else {
            var phys = s"${name}_c$seq"; seq += 1
            while (reserved.contains(phys)) { phys = s"${name}_c$seq"; seq += 1 }
            ColumnMapping.withPhysical(
              StructField(name, add.dataType(), nullable = true), phys)
          }
        // ADD COLUMN ... DEFAULT: the default becomes BOTH the fill for
        // future INSERTs omitting the column (CURRENT_DEFAULT) and the
        // value pre-existing rows read back (EXISTS_DEFAULT — the parquet
        // readers substitute it for the column missing from old files)
        val field = Option(add.defaultValue()).fold(field0) { dv =>
          field0.copy(metadata = new MetadataBuilder()
            .withMetadata(field0.metadata)
            .putString("CURRENT_DEFAULT", dv.getSql)
            .putString("EXISTS_DEFAULT", dv.getSql).build())
        }
        schema = StructType(schema.fields :+ field)
      case ren: TableChange.RenameColumn if ren.fieldNames().length == 1 =>
        val old = ren.fieldNames()(0); val nw = ren.newName()
        require(schema.fieldNames.contains(old),
          s"RENAME COLUMN $old: no such column (have ${schema.fieldNames.toSeq})")
        require(!schema.fieldNames.contains(nw),
          s"RENAME COLUMN $old TO $nw: target name already exists")
        require(!partCols.contains(old),
          s"RENAME COLUMN $old: partition columns name the directory layout " +
            "(c=v paths); rebuild with commitPartitioned(replace) to rename one")
        require(!transformSrcs.contains(old),
          s"RENAME COLUMN $old: it is a hidden-partition transform source; " +
            "re-declare the layout first: CALL <catalog>.system.set_partition_transforms")
        // metadata-only: the field keeps reading/writing its physical name
        schema = StructType(schema.fields.map { f =>
          if (f.name != old) f
          else ColumnMapping.withPhysical(f.copy(name = nw),
            ColumnMapping.physicalName(f))
        })
      case del: TableChange.DeleteColumn if del.fieldNames().length == 1 =>
        val name = del.fieldNames()(0)
        require(schema.fieldNames.contains(name),
          s"DROP COLUMN $name: no such column (have ${schema.fieldNames.toSeq})")
        require(schema.length > 1, s"DROP COLUMN $name: cannot drop the last column")
        require(!partCols.contains(name),
          s"DROP COLUMN $name: partition columns name the directory layout; " +
            "rebuild with commitPartitioned(replace) to drop one")
        require(!transformSrcs.contains(name),
          s"DROP COLUMN $name: it is a hidden-partition transform source; " +
            "re-declare the layout first: CALL <catalog>.system.set_partition_transforms")
        val phys = ColumnMapping.physicalName(schema(name))
        dropped += phys   // reserve forever: data files still carry the bytes
        schema = StructType(schema.fields.filterNot(_.name == name))
      case upd: TableChange.UpdateColumnDefaultValue if upd.fieldNames().length == 1 =>
        val name = upd.fieldNames()(0)
        require(schema.fieldNames.contains(name),
          s"ALTER COLUMN $name SET DEFAULT: no such column " +
            s"(have ${schema.fieldNames.toSeq})")
        val sql = Option(upd.newCurrentDefault()).map(_.getSql)
          .orElse(Option(upd.newDefaultValue())).filter(_.nonEmpty)
        schema = StructType(schema.fields.map { f =>
          if (f.name != name) f
          else {
            val mb = new MetadataBuilder().withMetadata(f.metadata)
            // DROP DEFAULT clears only the INSERT-time fill; an
            // EXISTS_DEFAULT (from ADD COLUMN ... DEFAULT) must survive,
            // or rows written before the column existed would silently
            // flip from the promised default to NULL
            sql.fold(mb.remove("CURRENT_DEFAULT")) { s =>
              mb.putString("CURRENT_DEFAULT", s)
            }
            f.copy(metadata = mb.build())
          }
        })
      case ut: TableChange.UpdateColumnType if ut.fieldNames().length == 1 =>
        val name = ut.fieldNames()(0)
        require(schema.fieldNames.contains(name),
          s"ALTER COLUMN $name TYPE: no such column (have ${schema.fieldNames.toSeq})")
        val f = schema(name)
        val to = ut.newDataType()
        // widening-only, metadata-only: old files keep their narrow
        // physical types and the parquet readers promote per file under
        // the declared schema (int32→int64, float→double, decimal widen —
        // native in both vectorized and row-based readers). Anything
        // narrower or cross-family would need a data rewrite.
        require(GraftTableCatalog.widens(f.dataType, to),
          s"ALTER COLUMN $name TYPE ${to.sql}: only widening conversions are " +
            s"metadata-only (${f.dataType.sql} -> ${to.sql} is not; widening = " +
            "smaller integral -> larger integral, FLOAT -> DOUBLE, or DECIMAL " +
            "gaining precision without losing scale or integer digits). " +
            "Rewrite through CTAS for anything else")
        require(partCols.isEmpty && transformSrcs.isEmpty,
          s"ALTER COLUMN $name TYPE: widening on partitioned/transform-layout " +
            "tables is not supported yet (the widened read schema would hide " +
            "the layout columns); rebuild the table to retype")
        require(!transformSrcs.contains(name),
          s"ALTER COLUMN $name TYPE: it is a hidden-partition transform source " +
            "(derived bytes are type-dependent); re-declare the layout first")
        // a persisted bloom/ANN index hashed the NARROW value bytes: a
        // widened probe would silently miss — refuse until rebuilt
        val phys = ColumnMapping.physicalName(f)
        for (idx <- Seq("bloom", "ann"); n <- Set(name, phys))
          require(!fs.exists(new Path(root, s"_index/$idx/$n")),
            s"ALTER COLUMN $name TYPE: a persisted $idx index exists on this " +
              s"column and was built over the narrow type; drop/rebuild it first " +
              s"(_index/$idx/$n)")
        schema = StructType(schema.fields.map { sf =>
          if (sf.name != name) sf else sf.copy(dataType = to)
        })
        // the flag flips this table's library reads from mergeSchema to
        // the explicit declared schema (CommitLog.pool)
        widens = true
      case un: TableChange.UpdateColumnNullability if un.fieldNames().length == 1 =>
        val name = un.fieldNames()(0)
        require(schema.fieldNames.contains(name),
          s"ALTER COLUMN $name SET/DROP NOT NULL: no such column " +
            s"(have ${schema.fieldNames.toSeq})")
        // NOT NULL rides the constraint plane: SET runs the same
        // proof scan addConstraint always runs (existing NULLs refuse
        // the DDL) and leaves a standing write gate; DROP lifts it
        val log = new CommitLog(spark, root.toString)
        val cname = s"${name}_not_null"
        if (!un.nullable()) log.addConstraint(cname, s"`$name` IS NOT NULL"): Unit
        else {
          try log.dropConstraint(cname): Unit
          catch { case _: IllegalArgumentException => () }
        }
        schema = StructType(schema.fields.map { f =>
          if (f.name != name) f else f.copy(nullable = un.nullable())
        })
      case uc: TableChange.UpdateColumnComment if uc.fieldNames().length == 1 =>
        val name = uc.fieldNames()(0)
        require(schema.fieldNames.contains(name),
          s"ALTER COLUMN $name COMMENT: no such column " +
            s"(have ${schema.fieldNames.toSeq})")
        schema = StructType(schema.fields.map { f =>
          if (f.name != name) f
          else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putString("comment", uc.newComment()).build())
        })
      case sp: TableChange.SetProperty =>
        propEdits = propEdits.andThen(_ + (sp.property() -> sp.value()))
      case rp: TableChange.RemoveProperty =>
        propEdits = propEdits.andThen(_ - rp.property())
      case ac: TableChange.AddConstraint =>
        ac.constraint() match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
            new CommitLog(spark, root.toString)
              .addConstraint(ck.name(), ck.predicateSql()): Unit
          case other => throw new UnsupportedOperationException(
            s"graft enforces CHECK constraints; ${other.toDDL} is not supported " +
              "(UNIQUE/PK/FK would need global state no single write can verify)")
        }
      case dc: TableChange.DropConstraint =>
        try new CommitLog(spark, root.toString).dropConstraint(dc.name()): Unit
        catch {
          case _: IllegalArgumentException if dc.ifExists() => ()
        }
      case other => throw new UnsupportedOperationException(
        s"graft ALTER TABLE supports top-level ADD/RENAME/DROP COLUMN, " +
          s"SET/DROP DEFAULT, and ADD/DROP CONSTRAINT CHECK, got $other")
    }
    // one atomic write: a reader never sees the new schema without its
    // dropped-name registry or widened flag; props merge against the
    // descriptor as it stands under the lock
    TableMeta.update(fs, root.toString)(m => m.copy(schema = Some(schema),
      props = propEdits(m.props), dropped = dropped, seq = seq,
      widened = m.widened || widens)): Unit
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && fs.delete(tableRoot(ident), true)

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    if (!namespaceExists(to.namespace())) throw new NoSuchNamespaceException(to.namespace())
    // a directory move is a pure metadata op here; an object-store deploy
    // would record the mapping catalog-side instead of moving data
    if (!fs.rename(tableRoot(from), tableRoot(to)))
      throw new java.io.IOException(s"rename $from -> $to failed")
  }
}

object GraftTableCatalog {
  import org.apache.spark.sql.types._

  /** Whether `from -> to` is a lossless, parquet-reader-promotable
    * widening — exactly the conversions both the vectorized and
    * row-based readers perform natively when the requested schema is
    * wider than a file's physical type, which is what makes
    * `ALTER COLUMN ... TYPE` metadata-only here.
    */
  private[catalog] def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale &&
          t.precision - t.scale >= f.precision - f.scale &&
          (t.precision > f.precision || t.scale > f.scale)
      // integral → decimal with enough integer digits for the whole
      // source range (parquet readers promote INT32/INT64 to decimal)
      case (ByteType, t: DecimalType)    => t.precision - t.scale >= 3
      case (ShortType, t: DecimalType)   => t.precision - t.scale >= 5
      case (IntegerType, t: DecimalType) => t.precision - t.scale >= 10
      case (LongType, t: DecimalType)    => t.precision - t.scale >= 19
      case _ => false
    }
}

/** One commit-log table behind the catalog: reads delegate to the built-in
  * parquet V2 scan over the pinned snapshot's file list (pushdown,
  * pruning, vectorized reader all come from Spark); writes commit through
  * the log's optimistic publish. `meta` is the descriptor as
  * [[GraftTable.resolve]] resolved it; `pinned` carries time travel.
  */
private[graft] class GraftTable(spark: SparkSession, tableName: String, root: String,
    private[catalog] val meta: TableMeta, pinned: Option[Long])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private val log = new CommitLog(spark, root)
  private def declared = meta.schema
  private def partCols = meta.partCols

  /** Declared hidden-partition transforms, resolved once per handle. */
  private[catalog] lazy val transforms: Seq[PartitionTransform] = log.partitionTransforms

  /** Filesystem root of this table — the key the MV-rewrite rule joins
    * against the source recorded in a view's sidecar. */
  private[graft] def tableRoot: String = root

  /** Whether this handle reads a pinned (time-travel) snapshot — such a
    * read must never rewrite onto a view maintained at the HEAD. */
  private[graft] def isPinned: Boolean = pinned.isDefined
  private[graft] def pinnedVersion: Option[Long] = pinned

  override def name(): String = tableName

  /** The table's declared CHECK constraints, surfaced through the V2
    * constraint API (DESCRIBE and the analyzer see them). They are
    * reported as enforced+validated: the `#check:` header only ever
    * lands with a proof scan, and every write path re-validates.
    */
  override def constraints(): Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    log.checkConstraints.toSeq.sortBy(_._1).map { case (n, e) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
        .predicateSql(e).enforced(true)
        .validationStatus(
          org.apache.spark.sql.connector.catalog.constraints.Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** Whether this snapshot carries merge-on-read tombstones. Stable for
    * the table handle's lifetime (one analysis pass) — the analyzer rule
    * probes it on every iteration, and a per-call manifest read would
    * turn analysis into O(iterations) metadata I/O.
    */
  private[graft] lazy val hasDeletes: Boolean =
    pinned.orElse(log.currentVersion).exists(v => log.dvFiles(v).nonEmpty)

  /** logical → physical for columns renamed via ALTER TABLE; empty on
    * tables that never renamed (the overwhelmingly common case). Reads of
    * renamed tables are rewritten at analysis ([[graft.plans.ApplyDeletionVectors]]);
    * writes rename to physical before staging.
    */
  private[graft] lazy val renameMapping: Map[String, String] =
    declared.map(ColumnMapping.renames).getOrElse(Map.empty)
  private[graft] def hasRenames: Boolean = renameMapping.nonEmpty
  private def physicalOf(name: String): String = renameMapping.getOrElse(name, name)

  /** Tombstone-applied snapshot read for the DV analyzer rule
    * ([[graft.plans.ApplyDeletionVectors]]): the commit log's own
    * DataFrame-plane read, bound to this handle's pinned version.
    */
  private[graft] def snapshotRead(): DataFrame =
    log.readVersion(pinned.orElse(log.currentVersion).getOrElse(
      throw new IllegalStateException(s"$tableName has no committed data")))

  /** Declared schema widened with any columns a library-level schema
    * evolution added (`#schema:` manifest header — merge/mergeMoR/
    * applyChangesMoR with evolve=true): the SQL surface must see the
    * evolved columns or INSERT/MERGE/the `.changes` feed bounce them.
    * The header binds to the version this handle reads, so time travel
    * to a pre-evolution snapshot serves the narrow schema. Renamed
    * columns are matched by their PHYSICAL name (the header records
    * physical names) so a rename is never double-reported as new.
    */
  override lazy val schema: StructType = {
    val evolved = pinned.orElse(log.currentVersion).flatMap(log.evolvedSchemaAt)
    declared match {
      case Some(d) =>
        // dropped physicals must not resurrect from a stale header: an
        // evolved column later removed via ALTER DROP lands in the
        // dropped registry, which wins over the manifest's record
        val known = d.fieldNames.toSet ++ ColumnMapping.renames(d).values
        val extra = evolved.map(_.fields.filterNot(f =>
            known(f.name) || meta.dropped(f.name)))
          .getOrElse(Array.empty[org.apache.spark.sql.types.StructField])
        if (extra.isEmpty) d else StructType(d.fields ++ extra)
      case None => evolved.getOrElse {
        pinned.orElse(log.currentVersion)
          .map(v => log.readVersion(v).schema)
          .filter(_.nonEmpty)
          .getOrElse(throw new IllegalStateException(
            s"$tableName has neither a declared schema nor committed data"))
      }
    }
  }

  override def capabilities(): util.Set[TableCapability] =
    // BATCH_WRITE is advertised for path-based DataFrameWriter.save()
    // eligibility; execution still dispatches on the Write object being
    // a V1Write, so every batch write runs the commit-log V1 path.
    // AUTOMATIC_SCHEMA_EVOLUTION opts into the analyzer's
    // `MERGE WITH SCHEMA EVOLUTION` rewrite (ResolveMergeIntoSchemaEvolution):
    // source-only columns become alterTable AddColumn changes before the
    // row-level rewrite, so a SQL-only user reaches the evolution the
    // library's merge/mergeMoR(evolve = true) perform.
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.AUTOMATIC_SCHEMA_EVOLUTION,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.TRUNCATE)

  // read at `properties()` time, so a handle never serves stale values
  // across an ALTER
  override def properties(): util.Map[String, String] =
    (TableMeta.read(HadoopFs.fs(spark, root), root).props ++
      Map("location" -> root, "provider" -> "graft")).asJava

  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    if (partCols.nonEmpty) partCols.map(Expressions.identity).toArray
    else transforms.map { t =>
      t.kind match {
        case "year"   => Expressions.years(t.src)
        case "month"  => Expressions.months(t.src)
        case "day"    => Expressions.days(t.src)
        case "hour"   => Expressions.hours(t.src)
        case "bucket" => Expressions.bucket(t.arg.toInt, t.src)
        case _ => Expressions.apply(t.kind,
          Expressions.literal(t.arg), Expressions.column(t.src))
      }
    }.toArray
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    pinned.foreach { v =>
      require(log.files(v) != null, s"version $v not readable under $root")
    }
    scanAt(pinned.orElse(log.currentVersion).getOrElse(0L), options)
  }

  /** A parquet scan of version `v`'s files (none for v0) under `readSchema`. */
  private def parquetScanAt(v: Long, readSchema: StructType,
      options: CaseInsensitiveStringMap): ParquetScanBuilder = {
    val scanOptions = withBasePath(options)
    ParquetTable(tableName, spark, scanOptions, if (v > 0) log.filePaths(v) else Nil,
      Some(readSchema), classOf[ParquetFileFormat]).newScanBuilder(scanOptions)
  }

  // hive-partitioned pools nest files under c=v dirs: basePath lets the
  // file index rehydrate the partition columns (and makes them PRUNABLE
  // partition attributes — Spark plans partition filters as file-level
  // pruning, not row filters, exactly the DPP-ready shape)
  private def withBasePath(options: CaseInsensitiveStringMap): CaseInsensitiveStringMap =
    if (partCols.isEmpty) options
    else new CaseInsensitiveStringMap(
      (options.asScala ++ Map("basePath" -> new Path(root, "data").toString)).asJava)

  /** The table's scan of version `v` ([[parquetScanAt]] under the logical
    * schema), with its streaming twin, exact stats and key grouping.
    */
  private def scanAt(v: Long, options: CaseInsensitiveStringMap): ScanBuilder = {
    // with the DV analyzer rule installed ([[graft.plans.ApplyDeletionVectors]]
    // via GraftExtensions) a tombstone-bearing relation is rewritten to the
    // anti-joined read BEFORE any scan is built, so reaching this point with
    // live tombstones means the session lacks the rule — a raw file scan
    // would silently resurrect deleted rows, so refuse loudly instead
    if (hasDeletes) throw new IllegalStateException(
      s"$tableName carries merge-on-read deletion vectors; install " +
        "spark.sql.extensions=graft.functions.GraftExtensions (applies them at " +
        s"read) or fold them in first: CALL <catalog>.system.rewrite_deletes")
    // a raw BATCH file scan on a renamed table would bind logical names
    // against files storing physical names — every renamed column would
    // read NULL. Batch reads are rewritten at analysis when the
    // extensions are installed (so they never reach this scan); a
    // rule-less session's scan refuses at toBatch. Streaming reads are
    // mapping-aware natively: the micro-batch stream plans its parquet
    // reads under the PHYSICAL schema and rows bind positionally to the
    // logical attributes (same arity and types by construction).
    val batchRefusal =
      if (!hasRenames) None
      else Some(s"$tableName has renamed columns ($renameMapping); batch reads " +
        "need spark.sql.extensions=graft.functions.GraftExtensions (the " +
        "column-mapping rewrite applies at analysis) or " +
        "CALL <catalog>.system.materialize_mapping")
    val streamSchema =
      if (hasRenames) ColumnMapping.physicalSchema(schema) else schema
    val snapshot = Option.when(v > 0)(v)
    val scanOptions = withBasePath(options)
    val inner = parquetScanAt(v, schema, options)
    // batch pushdown forwards untouched; streaming reads tail the commit
    // log ([[GraftMicroBatchStream]]) — the checkpoint location is unused
    // because offsets ARE commit versions (the engine's own durable log).
    // Whole-snapshot scans report the manifest's EXACT bytes/rows (plus
    // ANALYZE ndv/null counts when the sidecar exists) so join planning
    // and CBO reorder see real sizes, not compressed-bytes guesses.
    val exactStats = () => snapshot.map { v =>
      val (bytes, rows) = log.snapshotStats(v)
      // serve column stats only while they describe this snapshot's head
      // lineage (estimates may go stale, versions must not lie)
      log.analyzed().filter(_.version <= v) match {
        case Some(a) =>
          org.apache.spark.sql.GraftExactStats(bytes, rows, a.cols, a.hists, a.minMax)
        case None => org.apache.spark.sql.GraftExactStats(bytes, rows, Map.empty)
      }
    }
    new org.apache.spark.sql.GraftForwardingScanBuilder(inner,
      _ => new GraftMicroBatchStream(spark, tableName, root, streamSchema, scanOptions),
      exactStats, batchRefusal, totalCols = schema.fields.length,
      // storage-partitioned-join handshake: a hive-partitioned table's
      // scan reports identity key-grouping (engaged only under
      // spark.sql.sources.v2.bucketing.enabled) so co-partitioned joins
      // and partition-keyed aggregations plan shuffle-free; renamed
      // tables stand down (their batch path is rewritten at analysis)
      keyedSession = if (partCols.nonEmpty && !hasRenames) Some(spark) else None,
      // hidden-bucket twin: a single bucket(n, col) transform layout
      // reports bucket key-grouping keyed on the layout directory's
      // bucket id — two tables bucketed alike join with zero exchanges
      bucketKeyed = transforms match {
        case Seq(t) if t.kind == "bucket" && !hasRenames &&
            schema.fieldNames.contains(t.src) =>
          Some((t.src, t.arg.toInt, spark))
        case _ => None
      },
      // per-filter consumption tracking: only absorbed filters touching
      // these columns mean the file index pruned (a fully-absorbed DATA
      // filter must not discard exact stats)
      partitionColNames =
        partCols.toSet ++ transforms.map(_.derivedName))
  }

  private sealed trait WriteMode
  private case object AppendMode extends WriteMode
  private case object TruncateMode extends WriteMode
  private case class OverwriteMode(cond: Column) extends WriteMode

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty, s"cannot write to time-travel snapshot of $tableName")
    new WriteBuilder with SupportsOverwrite {
      private var mode: WriteMode = AppendMode
      override def truncate(): WriteBuilder = { mode = TruncateMode; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        // the condition runs against the FILES (physical names)
        val cond = filters.map(f => GraftTable.filterToColumn(f, physicalOf).getOrElse(
            throw new UnsupportedOperationException(s"untranslatable overwrite filter: $f")))
          .reduceOption(_ && _).getOrElse(lit(true))
        mode = OverwriteMode(cond)
        this
      }
      override def build(): Write = new V1Write {
        // streaming sink: append commits per epoch (Append mode) or a
        // replace commit per epoch (Complete mode, via truncate());
        // exactly-once through per-epoch txn ids
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          require(partCols.isEmpty,
            s"$tableName is hive-partitioned; streaming writes land flat files " +
              "— stream into an unpartitioned table or batch-repartition with " +
              "commitPartitioned")
          val replaceEachEpoch = mode match {
            case TruncateMode => true
            case AppendMode   => false
            case OverwriteMode(_) => throw new UnsupportedOperationException(
              "streaming filter-overwrite is not a streaming output mode")
          }
          // renamed tables stage files under PHYSICAL names (positional
          // rename — the epoch write's rows are resolved to table order)
          val streamSchema =
            if (hasRenames) ColumnMapping.physicalSchema(schema) else info.schema()
          new GraftStreamingWrite(log, streamSchema, info.queryId(), replaceEachEpoch)
        }
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data0: DataFrame, overwrite: Boolean): Unit = {
              // column-mapped tables store physical names; the insert is
              // resolved to table column order, so the rename is positional
              val data =
                if (hasRenames) ColumnMapping.toPhysical(data0, schema) else data0
              // hidden-partition transforms: route through the deriving
              // commit so the declared layout holds on every SQL INSERT
              lazy val tspecs = log.partitionTransforms.map(_.spec)
              // (an empty partCols is the flat commit)
              mode match {
              case OverwriteMode(c)  =>
                if (log.currentVersion.isEmpty)
                  log.commitPartitioned(data, partCols, replace = true): Unit
                else log.rewriteWhere(c, Some(data)): Unit
                // (rewriteWhere is partition-aware: a filter-overwrite on
                // a partitioned table restages under the hive subdirs)
              case _ if partCols.isEmpty && tspecs.nonEmpty =>
                log.commitTransformed(data, tspecs, replace = mode == TruncateMode): Unit
              case _ => log.commitPartitioned(data, partCols, replace = mode == TruncateMode): Unit
              }
            }
          }
      }
    }
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(GraftTable.filterToColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit =
    if (log.currentVersion.nonEmpty) {
      val cond = filters.flatMap(GraftTable.filterToColumn(_, physicalOf))
        .reduceOption(_ && _).getOrElse(lit(true))
      // partitioned tables delete on the merge-on-read tier (CoW would
      // flatten the hive layout); reads apply the tombstones via the
      // ApplyDeletionVectors rule, and rewrite_deletes folds them
      if (partCols.nonEmpty) log.deleteWhereMoR(cond): Unit
      else log.deleteWhere(cond): Unit
    }

  /** SQL MERGE INTO / UPDATE (and a DELETE no filter can serve): Spark's
    * group-based row-level rewrite. The operation's scan reads the whole
    * snapshot of one version (one group — file-granular grouping would
    * need the parquet write stack re-implemented per group for no
    * semantic gain; the file-pruned CoW merge lives on the DataFrame
    * plane, [[CommitLog.merge]]); Spark computes the new rows and writes
    * them through Spark's OWN parquet V2 batch write into a commit-log
    * staging dir, and the batch commit replaces the version the scan read
    * with the staged rows ([[CommitLog.commitRowLevel]]), or fails the
    * statement when a conflicting commit landed since: atomic, snapshot-
    * isolated, and the data path is entirely Spark's vectorized writer.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    // the group-based rewrite replaces the WHOLE table from its own raw
    // scan (which must stay pushdown-free and un-rewritten — see
    // newScanBuilder's one-group contract), so merge-on-read tombstones
    // cannot ride through it: require them folded in first, at the
    // version the scan reads too (a delete may land in between)
    def foldFirst = new IllegalStateException(
      s"$tableName carries merge-on-read deletion vectors; fold them in " +
        "before SQL MERGE/UPDATE: CALL <catalog>.system.rewrite_deletes")
    if (hasDeletes) throw foldFirst
    // Column-mapped tables run the rewrite natively: the group scan
    // plans under the PHYSICAL schema and reports logical names (rows
    // bind positionally), and the write stages files under physical
    // names — the mapping survives MERGE/UPDATE with zero
    // materialization. Partitioned and transform-partitioned layouts
    // compose safely because ALTER refuses to rename partition columns
    // and transform sources, so the re-staging names (hive subdir
    // columns, transform derivation sources) are never mapped.
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        new org.apache.spark.sql.connector.write.RowLevelOperation {
          override def command() = info.command()
          // the write replaces the WHOLE table (one group), so the scan
          // must not accept Spark's group-filter pushdown: a pruned file
          // would count as an untouched group whose rows the replace
          // commit then loses. Exposing a bare ScanBuilder (no pushdown
          // traits) AND a bare Scan (no runtime-filtering interface —
          // RowLevelOperationRuntimeGroupFiltering inspects the BUILT
          // scan, and a partition-pruned rewrite source would drop every
          // untouched partition from the replace commit) makes the group
          // scan read the full snapshot, which is exactly what the
          // one-group contract requires.
          // the version the scan read: the one the write replaces
          @volatile private var scanned: Option[Long] = None
          override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
            val v = scanned.getOrElse {
              val head = log.currentVersion.getOrElse(0L)
              if (head > 0 && log.dvFiles(head).nonEmpty) throw foldFirst
              head
            }
            scanned = Some(v)
            // column-mapped tables plan the group scan directly under
            // the PHYSICAL schema (what the files store) and report the
            // LOGICAL schema upward — same arity and types, so the rows
            // bind positionally to the command's resolved attributes,
            // exactly how the streaming read handles the mapping (their
            // partition columns are never mapped — ALTER refuses
            // renaming them). The plain path is the table's own scan.
            val inner: ScanBuilder =
              if (!hasRenames) scanAt(v, options)
              else parquetScanAt(v, ColumnMapping.physicalSchema(schema), options)
            new ScanBuilder {
              override def build(): org.apache.spark.sql.connector.read.Scan = {
                val built = inner.build()
                new org.apache.spark.sql.connector.read.Scan {
                  override def readSchema() =
                    if (hasRenames) schema else built.readSchema()
                  override def description() = built.description()
                  override def toBatch = built.toBatch
                }
              }
            }
          }
          override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder =
            new WriteBuilder {
              override def build(): Write = new Write {
                override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = {
                  val stage = log.newStageDir("rlo")
                  // column-mapped tables stage under PHYSICAL names:
                  // the delegate writer is handed the physical twin of
                  // the (logical, table-order) write schema — a
                  // positional rename of the FILE schema only, the rows
                  // pass through untouched
                  val fileSchema =
                    if (!hasRenames) winfo.schema()
                    else StructType(winfo.schema().fields.map(f =>
                      StructField(physicalOf(f.name), f.dataType, f.nullable)))
                  val fileInfo: LogicalWriteInfo =
                    if (!hasRenames) winfo
                    else new LogicalWriteInfo {
                      override def options() = winfo.options()
                      override def queryId() = winfo.queryId()
                      override def schema() = fileSchema
                      override def rowIdSchema() = winfo.rowIdSchema()
                      override def metadataSchema() = winfo.metadataSchema()
                    }
                  val delegate = ParquetTable("graft-rlo-stage", spark, winfo.options(),
                    Seq(stage), Some(fileSchema), classOf[ParquetFileFormat])
                    .newWriteBuilder(fileInfo).build().toBatch
                  new org.apache.spark.sql.connector.write.BatchWrite {
                    // the file commit protocol arbitrates its own task
                    // commits; advertising the default (coordinator on)
                    // over a delegate that opted out denies every task
                    override def useCommitCoordinator(): Boolean =
                      delegate.useCommitCoordinator()
                    override def onDataWriterCommit(
                        message: org.apache.spark.sql.connector.write.WriterCommitMessage): Unit =
                      delegate.onDataWriterCommit(message)
                    override def createBatchWriterFactory(
                        pinfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo) =
                      new OperationStrippingWriterFactory(
                        delegate.createBatchWriterFactory(pinfo), fileSchema)
                    override def commit(
                        messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
                      delegate.commit(messages)
                      log.commitRowLevel(stage, scanned.getOrElse(throw new IllegalStateException(
                        s"$tableName: a row-level write with no scan of the table"))): Unit
                    }
                    override def abort(
                        messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
                      delegate.abort(messages)
                  }
                }
              }
            }
        }
    }
  }
}

/** The group-based row-level rewrite hands the data writer its rows with
  * a leading `__row_operation` column when the table declares no metadata
  * attributes (Spark applies the strip projection only on the
  * metadata-bearing task path) — this factory restores the data-only view
  * by projecting ordinals 1..n through a [[ProjectingInternalRow]].
  */
private[catalog] final class OperationStrippingWriterFactory(
    delegate: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataSchema: StructType)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new OperationStrippingWriter(delegate.createWriter(partitionId, taskId), dataSchema)
}

private[catalog] final class OperationStrippingWriter(
    delegate: org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow],
    dataSchema: StructType)
  extends org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
  private val n = dataSchema.size
  // one reusable view; the parquet writer consumes each row before the
  // next write, so mutating the projection between rows is safe
  private lazy val proj =
    org.apache.spark.sql.catalyst.ProjectingInternalRow(dataSchema, (1 to n).toIndexedSeq)
  override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit =
    if (row.numFields == n) delegate.write(row)
    else {
      require(row.numFields == n + 1,
        s"row-level write row has ${row.numFields} fields, expected $n or ${n + 1}")
      proj.project(row)
      delegate.write(proj)
    }
  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage =
    delegate.commit()
  override def abort(): Unit = delegate.abort()
  override def close(): Unit = delegate.close()
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    delegate.currentMetricsValues()
}

private[graft] object GraftTable {
  import org.apache.spark.sql.sources._

  /** The descriptor a handle on `root` reads by, whether the table is
    * reached by name or by path: the declared schema (else `external`,
    * the query's schema on a write into an empty root) and the identity
    * partition columns. Without declared ones, the head manifest's
    * `#partition` header is authoritative (a table written through
    * `CommitLog.commitPartitioned` outside the catalog would otherwise
    * read every partition column as NULL) — except on a transform-
    * partitioned table, whose header names the derived `_p_*` layout
    * columns: those are not table columns, so the table is logically
    * unpartitioned (writes derive them, reads hide them).
    */
  def resolve(spark: SparkSession, root: String,
      external: Option[StructType] = None): TableMeta = {
    val meta = TableMeta.read(HadoopFs.fs(spark, root), root)
    val partCols =
      if (meta.partCols.nonEmpty) meta.partCols
      else {
        val log = new CommitLog(spark, root)
        if (log.partitionTransforms.nonEmpty) Nil
        else log.currentVersion.map(log.partitionColumns).getOrElse(Nil)
      }
    meta.copy(schema = meta.schema.orElse(external), partCols = partCols)
  }

  /** V1 pushdown filter → Column, total on the shapes Spark produces for
    * top-level columns; nested references return None (the caller then
    * reports the predicate as unsupported rather than mistranslating).
    */
  def filterToColumn(f: Filter): Option[Column] = filterToColumn(f, identity)

  /** `rename` maps logical attribute names to the names the underlying
    * files store (column-mapped tables); identity everywhere else.
    */
  def filterToColumn(f: Filter, rename: String => String): Option[Column] = f match {
    case EqualTo(a, v)            => ref(a, rename).map(_ === lit(v))
    case EqualNullSafe(a, v)      => ref(a, rename).map(_ <=> lit(v))
    case GreaterThan(a, v)        => ref(a, rename).map(_ > lit(v))
    case GreaterThanOrEqual(a, v) => ref(a, rename).map(_ >= lit(v))
    case LessThan(a, v)           => ref(a, rename).map(_ < lit(v))
    case LessThanOrEqual(a, v)    => ref(a, rename).map(_ <= lit(v))
    case In(a, vs)                => ref(a, rename).map(_.isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => ref(a, rename).map(_.isNull)
    case IsNotNull(a)             => ref(a, rename).map(_.isNotNull)
    case And(l, r)                => for (a <- filterToColumn(l, rename); b <- filterToColumn(r, rename)) yield a && b
    case Or(l, r)                 => for (a <- filterToColumn(l, rename); b <- filterToColumn(r, rename)) yield a || b
    case Not(c)                   => filterToColumn(c, rename).map(!_)
    case StringStartsWith(a, v)   => ref(a, rename).map(_.startsWith(v))
    case StringEndsWith(a, v)     => ref(a, rename).map(_.endsWith(v))
    case StringContains(a, v)     => ref(a, rename).map(_.contains(v))
    case AlwaysTrue()             => Some(lit(true))
    case AlwaysFalse()            => Some(lit(false))
    case _                        => None
  }

  private def ref(a: String, rename: String => String): Option[Column] =
    if (a.contains(".")) None else Some(col(s"`${rename(a)}`"))
}
