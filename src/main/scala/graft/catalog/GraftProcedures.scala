package graft.catalog

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Table-maintenance plane as SQL `CALL` procedures (`graft.system.*`) —
  * the OPTIMIZE/VACUUM/RESTORE surface lakehouse users expect, reaching
  * the same [[CommitLog]] maintenance ops the DataFrame plane uses:
  *
  * {{{
  *   CALL graft.system.optimize(`table` => 'db.t', cluster_by => 'k')
  *   CALL graft.system.optimize(`table` => 'db.t', cluster_by => 'k1,k2')  -- Z-order
  *   CALL graft.system.compact('db.t')
  *   CALL graft.system.vacuum('db.t', 1, 0)
  *   CALL graft.system.restore('db.t', 3)
  *   CALL graft.system.export_delta('db.t', '/path/delta')
  *   CALL graft.system.import_delta('/path/delta', 'db.t')
  *   CALL graft.system.clone('db.t', 'db.t_branch')
  * }}}
  *
  * Each returns a one-row summary (a [[LocalScan]] — driver-local; the
  * results are manifest-plane counters, never data rows).
  */
private[catalog] object GraftProcedures {

  val names: Seq[String] =
    Seq("optimize", "compact", "vacuum", "restore", "export_delta", "import_delta",
      "export_iceberg", "import_iceberg", "rewrite_deletes", "update_where",
      "delete_where", "commit_all", "history",
      "materialize_mapping", "analyze", "clone", "build_bloom_index",
      "create_mv", "create_mv_join", "create_mv_star", "refresh_mv", "detail", "replicate",
      "build_ann_index",
      "drop_index", "add_constraint", "drop_constraint", "set_clustering",
      "create_tag", "create_branch", "drop_ref", "fast_forward", "refs",
      "set_partition_transforms", "set_ttl", "enforce_ttl", "expire_before",
      "apply_changes", "merge_mor", "promote_replica", "maintain_all",
      "snapshot_group", "query_history")

  def apply(cat: GraftTableCatalog, name: String): UnboundProcedure = name match {
    case "optimize"        => new Optimize(cat)
    case "compact"         => new Compact(cat)
    case "vacuum"          => new Vacuum(cat)
    case "restore"         => new Restore(cat)
    case "export_delta"    => new ExportDelta(cat)
    case "import_delta"    => new ImportDelta(cat)
    case "export_iceberg"  => new ExportIceberg(cat)
    case "import_iceberg"  => new ImportIceberg(cat)
    case "rewrite_deletes" => new RewriteDeletes(cat)
    case "update_where"    => new UpdateWhere(cat)
    case "delete_where"    => new DeleteWhere(cat)
    case "commit_all"      => new CommitAll(cat)
    case "history"         => new History(cat)
    case "materialize_mapping" => new MaterializeMapping(cat)
    case "analyze"         => new Analyze(cat)
    case "clone"           => new Clone(cat)
    case "build_bloom_index" => new BuildBloomIndex(cat)
    case "create_mv"       => new CreateMv(cat)
    case "create_mv_join"  => new CreateMvJoin(cat)
    case "create_mv_star"  => new CreateMvStar(cat)
    case "detail"          => new Detail(cat)
    case "refresh_mv"      => new RefreshMv(cat)
    case "replicate"       => new Replicate(cat)
    case "build_ann_index" => new BuildAnnIndex(cat)
    case "drop_index"      => new DropIndex(cat)
    case "add_constraint"  => new AddConstraint(cat)
    case "drop_constraint" => new DropConstraint(cat)
    case "set_clustering"  => new SetClustering(cat)
    case "create_tag"      => new CreateTag(cat)
    case "create_branch"   => new CreateBranch(cat)
    case "drop_ref"        => new DropRef(cat)
    case "fast_forward"    => new FastForward(cat)
    case "refs"            => new Refs(cat)
    case "set_partition_transforms" => new SetPartitionTransforms(cat)
    case "set_ttl"         => new SetTtl(cat)
    case "enforce_ttl"     => new EnforceTtl(cat)
    case "expire_before"   => new ExpireBefore(cat)
    case "apply_changes"   => new ApplyChanges(cat)
    case "merge_mor"       => new MergeMor(cat)
    case "promote_replica" => new PromoteReplica(cat)
    case "maintain_all"    => new MaintainAll(cat)
    case "snapshot_group"  => new SnapshotGroup(cat)
    case "query_history"   => new QueryHistory(cat)
    case other => throw new IllegalArgumentException(
      s"no such procedure: graft.system.$other (have: ${names.mkString(", ")})")
  }

  /** Column-mapping state of a table root: (declared schema, logical→
    * physical renames, dropped-physical registry). Exports spell the
    * mapping in each format's own indirection (Delta columnMapping mode
    * name, Iceberg schema.name-mapping.default);
    * [[MaterializeMapping]] folds it away entirely.
    */
  private def mappingStateOf(cat: GraftTableCatalog,
      root: String): (Option[org.apache.spark.sql.types.StructType],
        Map[String, String], Set[String]) = {
    val meta = TableMeta.read(HadoopFs.fs(cat.sparkSession, root), root)
    (meta.schema, meta.schema.map(ColumnMapping.renames).getOrElse(Map.empty), meta.dropped)
  }

  private def in(n: String, t: DataType) = ProcedureParameter.in(n, t).build()

  private abstract class Proc(procName: String, params: Seq[ProcedureParameter])
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false

    protected def result(schema: StructType, values: Any*): java.util.Iterator[Scan] =
      resultRows(schema, Seq(values))

    protected def resultRows(schema: StructType,
        rows: Seq[Seq[Any]]): java.util.Iterator[Scan] = {
      val irs = rows.map(vals => InternalRow.fromSeq(vals.map {
        case s: String => UTF8String.fromString(s)
        case x         => x
      })).toArray
      java.util.List.of[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = irs
        override def readSchema(): StructType = schema
      }).iterator()
    }
  }

  private val rewriteSchema = new StructType()
    .add("files_before", IntegerType).add("files_after", IntegerType)

  private final class Optimize(cat: GraftTableCatalog)
    extends Proc("optimize", Seq(in("table", StringType), in("cluster_by", StringType))) {
    override def description(): String =
      "cluster a table so footer stats prune file reads: one column " +
        "range-clusters, a comma-separated list Z-orders"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val named = input.getUTF8String(1).toString.split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq
      // empty cluster_by falls back to the table's DECLARED clustering
      // (set_clustering) — `CALL optimize('db.t', '')` is the standing
      // maintenance call that needs no per-invocation column knowledge
      val cols = if (named.nonEmpty) named else log.clusteringColumns
      require(cols.nonEmpty,
        "optimize: no cluster_by given and the table declares no " +
          "clustering (CALL graft.system.set_clustering first)")
      val (before, after) =
        if (cols.length > 1) log.optimizeZOrder(cols) else log.optimizeBy(cols.head)
      result(rewriteSchema, before, after)
    }
  }

  /** `CALL graft.system.set_clustering('db.t', 'k1,k2')` — declare the
    * table's clustering columns ([[CommitLog.setClustering]]): every
    * later write range-clusters its batch so footer stats prune range
    * and point reads; compact/optimize converge pre-declaration files.
    * Empty string clears the declaration.
    */
  private final class SetClustering(cat: GraftTableCatalog)
    extends Proc("set_clustering", Seq(in("table", StringType),
      in("cluster_by", StringType))) {
    override def description(): String =
      "declare clustering columns: writes range-cluster incoming batches " +
        "(tight disjoint footer ranges → file skipping), maintenance " +
        "converges old files; '' clears"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val cols = input.getUTF8String(1).toString.split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq
      val v = log.setClustering(cols)
      result(new StructType().add("version", LongType)
        .add("clustered_by", StringType), v, cols.mkString(","))
    }
  }

  private final class SetTtl(cat: GraftTableCatalog)
    extends Proc("set_ttl", Seq(in("table", StringType),
      in("column", StringType), in("retain_ms", LongType))) {
    override def description(): String =
      "declare a TTL retention policy: rows whose column falls retain_ms " +
        "behind enforcement time expire (enforce_ttl applies it; " +
        "retain_ms <= 0 clears)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession,
        cat.rootOf(input.getUTF8String(0).toString))
      val v = log.setTtl(input.getUTF8String(1).toString, input.getLong(2))
      result(new StructType().add("version", LongType), v)
    }
  }

  private final class EnforceTtl(cat: GraftTableCatalog)
    extends Proc("enforce_ttl", Seq(in("table", StringType),
      in("as_of_ms", LongType))) {
    override def description(): String =
      "apply the declared TTL policy as of the given epoch-millis: fully-" +
        "expired files drop metadata-only, boundary files rewrite survivors"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession,
        cat.rootOf(input.getUTF8String(0).toString))
      val (dropped, rewritten) = log.enforceTtl(input.getLong(1))
      result(new StructType().add("files_dropped", IntegerType)
        .add("files_rewritten", IntegerType), dropped, rewritten)
    }
  }

  /** Cutoff literal parsing for [[ExpireBefore]]: typed by the HEAD
    * schema's retention column so the stats-tier comparison and the
    * row-level predicate agree (`2000-07-01` on a DATE column is a
    * date, on a STRING column a string).
    */
  private final class ExpireBefore(cat: GraftTableCatalog)
    extends Proc("expire_before", Seq(in("table", StringType),
      in("column", StringType), in("cutoff", StringType))) {
    override def description(): String =
      "expire rows with column below the cutoff: fully-expired files drop " +
        "metadata-only (zero data I/O), boundary files rewrite survivors"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession,
        cat.rootOf(input.getUTF8String(0).toString))
      val column = input.getUTF8String(1).toString
      val raw = input.getUTF8String(2).toString
      import org.apache.spark.sql.types._
      val cutoff: Any = log.read().schema(column).dataType match {
        case DateType                       => java.sql.Date.valueOf(raw)
        case TimestampType | TimestampNTZType =>
          java.sql.Timestamp.valueOf(raw.replace('T', ' '))
        case LongType | IntegerType         => raw.trim.toLong
        case DoubleType | FloatType         => raw.trim.toDouble
        case _                              => raw
      }
      val (dropped, rewritten) = log.expireBefore(column, cutoff)
      result(new StructType().add("files_dropped", IntegerType)
        .add("files_rewritten", IntegerType), dropped, rewritten)
    }
  }

  /** `CALL graft.system.apply_changes('db.src', 'db.replica', 'k',
    * '/cp/replica')` — drain the source's streaming change feed into the
    * target ([[graft.stream.Replicate.run]]): one atomic
    * merge-on-read apply per source version, txn-keyed by source version
    * for exactly-once across restarts of the same checkpoint. The SQL
    * surface of the CDC replication topology.
    */
  private final class ApplyChanges(cat: GraftTableCatalog)
    extends Proc("apply_changes", Seq(in("source", StringType),
      in("target", StringType), in("key_col", StringType),
      in("checkpoint", StringType))) {
    override def description(): String =
      "drain the source table's change feed into the target: atomic MoR " +
        "apply per source version, exactly-once via the checkpoint"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val src = input.getUTF8String(0).toString
      // the target may not exist yet — the first drained version
      // bootstraps it (standard initial-load-then-tail replication)
      val tgtRoot = cat.rootForCreate(input.getUTF8String(1).toString)
      // the feed reads through the SESSION catalog: qualify the source
      // with this catalog's name so CALL works from any current catalog
      val qualified = if (src.contains(".")) s"${cat.name()}.$src" else src
      graft.stream.Replicate.run(cat.sparkSession, qualified, tgtRoot,
        input.getUTF8String(2).toString, input.getUTF8String(3).toString)
      val v = new CommitLog(cat.sparkSession, tgtRoot).currentVersion.getOrElse(0L)
      result(new StructType().add("target_version", LongType), v)
    }
  }

  private final class SetPartitionTransforms(cat: GraftTableCatalog)
    extends Proc("set_partition_transforms", Seq(in("table", StringType),
      in("transforms", StringType))) {
    override def description(): String =
      "adopt or change a hidden-partition transform layout " +
        "(comma-separated, e.g. 'days(ts), bucket(16, k)'): ONE explicit " +
        "re-layout commit rewrites the table under the new spec — " +
        "partition evolution as a visible O(table) operation, never a " +
        "silent mixed layout"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = cat.rootOf(input.getUTF8String(0).toString)
      val log = new CommitLog(cat.sparkSession, root)
      // an identity-partitioned catalog table declares its layout in the
      // descriptor the catalog write path routes on — switching planes
      // under it would fork the two declarations
      require(TableMeta.read(HadoopFs.fs(cat.sparkSession, root), root).partCols.isEmpty,
        "set_partition_transforms: table is identity-partitioned " +
          "(PARTITIONED BY columns); recreate it with a transform layout instead")
      // top-level-comma split: 'bucket(2, k), days(ts)' is two specs —
      // commas inside a transform's parens stay put
      val raw = input.getUTF8String(1).toString
      val specs = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder; var depth = 0
      raw.foreach { c =>
        if (c == ',' && depth == 0) { specs += sb.toString; sb.clear() }
        else {
          if (c == '(') depth += 1 else if (c == ')') depth -= 1
          sb.append(c): Unit
        }
      }
      specs += sb.toString
      val transforms = specs.map(_.trim).filter(_.nonEmpty).toSeq
      require(transforms.nonEmpty, "commitTransformed: empty transform list")
      // the head is read inside the race: a commit landing first is re-laid out too
      val v = log.rewriteHead(transforms = transforms)(m => log.read(m))
      result(new StructType().add("version", LongType)
        .add("transforms", StringType),
        v, log.partitionTransforms.map(_.spec).mkString(","))
    }
  }

  private final class CreateTag(cat: GraftTableCatalog)
    extends Proc("create_tag", Seq(in("table", StringType),
      in("name", StringType), in("version", LongType))) {
    override def description(): String =
      "pin an immutable named tag at a version (<= 0 tags the head); " +
        "tagged versions survive vacuum until the tag drops; " +
        "readable via VERSION AS OF '<name>'"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val want = input.getLong(2)
      val v = log.createTag(input.getUTF8String(1).toString,
        if (want <= 0L) None else Some(want))
      result(new StructType().add("version", LongType), v)
    }
  }

  private final class CreateBranch(cat: GraftTableCatalog)
    extends Proc("create_branch", Seq(in("table", StringType),
      in("name", StringType), in("version", LongType))) {
    override def description(): String =
      "fork a zero-copy branch at a version (<= 0 forks the head) for " +
        "write-audit-publish; read via VERSION AS OF '<name>', publish " +
        "with fast_forward"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val want = input.getLong(2)
      val v = log.createBranch(input.getUTF8String(1).toString,
        if (want <= 0L) None else Some(want))
      result(new StructType().add("forked_from", LongType), v)
    }
  }

  private final class DropRef(cat: GraftTableCatalog)
    extends Proc("drop_ref", Seq(in("table", StringType), in("name", StringType))) {
    override def description(): String =
      "drop a tag or branch (a branch's fork dir goes with it)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val name = input.getUTF8String(1).toString
      log.dropRef(name)
      result(new StructType().add("dropped", StringType), name)
    }
  }

  private final class FastForward(cat: GraftTableCatalog)
    extends Proc("fast_forward", Seq(in("table", StringType), in("branch", StringType))) {
    override def description(): String =
      "publish a branch's state as the main head (write-audit-publish " +
        "close): atomic, O(changed files), refuses if main moved past " +
        "the fork point; consumes the branch"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val v = log.fastForward(input.getUTF8String(1).toString)
      result(new StructType().add("version", LongType), v)
    }
  }

  private final class Refs(cat: GraftTableCatalog)
    extends Proc("refs", Seq(in("table", StringType))) {
    override def description(): String =
      "list named refs: tags (pinned versions) and branches (fork points)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      resultRows(new StructType()
        .add("name", StringType).add("kind", StringType).add("version", LongType),
        log.refs.values.toSeq.sortBy(_.name)
          .map(r => Seq[Any](r.name, r.kind, r.version)))
    }
  }

  private final class Compact(cat: GraftTableCatalog)
    extends Proc("compact", Seq(in("table", StringType))) {
    override def description(): String = "bin-pack small pool files into ~128MB files"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val (before, after) = log.compact()
      result(rewriteSchema, before, after)
    }
  }

  private final class Vacuum(cat: GraftTableCatalog)
    extends Proc("vacuum", Seq(in("table", StringType), in("keep_versions", IntegerType),
      in("min_age_ms", LongType), in("min_version_age_ms", LongType))) {
    override def description(): String =
      "drop old versions and collect unreferenced pool files past the age " +
        "thresholds (min_version_age_ms is the streaming-checkpoint retention " +
        "floor; dropping younger versions refuses loudly — pass 0 to force)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val (manifests, files) = log.vacuum(input.getInt(1), input.getLong(2),
        input.getLong(3))
      result(new StructType().add("manifests_deleted", IntegerType)
        .add("files_deleted", IntegerType), manifests, files)
    }
  }

  private final class Restore(cat: GraftTableCatalog)
    extends Proc("restore", Seq(in("table", StringType), in("version", LongType))) {
    override def description(): String =
      "roll the table head back to an earlier version (published as a new commit)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val v = log.restore(input.getLong(1))
      result(new StructType().add("version", LongType), v)
    }
  }

  private final class Analyze(cat: GraftTableCatalog)
    extends Proc("analyze", Seq(in("table", StringType))) {
    override def description(): String =
      "harvest per-column NDV/null statistics for cost-based join planning " +
        "(row/byte counts are already exact from the manifest)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val (v, nCols) = log.analyze()
      result(new StructType().add("version", LongType)
        .add("columns_analyzed", IntegerType), v, nCols)
    }
  }

  private final class BuildBloomIndex(cat: GraftTableCatalog)
    extends Proc("build_bloom_index", Seq(in("table", StringType),
      in("column", StringType))) {
    override def description(): String =
      "build a per-file Bloom filter index on a column for point-lookup " +
        "file skipping (CommitLog.readEquals); carried files keep their " +
        "filters across commits, later-added files scan conservatively"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val (v, n) = log.buildBloomIndex(input.getUTF8String(1).toString)
      result(new StructType().add("version", LongType)
        .add("files_indexed", IntegerType), v, n)
    }
  }

  /** `CALL graft.system.detail('db.t')` — one-row operational snapshot of
    * a commit-log table from METADATA only (manifest + sidecars; zero
    * data-file reads): version, file/tombstone counts, exact bytes,
    * rows when known, partition spec, ANALYZE version, Bloom-indexed
    * columns. The DESCRIBE DETAIL surface operators check before
    * maintenance (compact? vacuum? reindex?).
    */
  private final class Detail(cat: GraftTableCatalog)
    extends Proc("detail", Seq(in("table", StringType))) {
    override def description(): String =
      "one-row metadata snapshot: version, files, tombstones, bytes, rows, " +
        "partition spec, analyze version, bloom- and ann-indexed columns, " +
        "constraints, clustering, partition transforms, refs"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = cat.rootOf(input.getUTF8String(0).toString)
      val log = new CommitLog(cat.sparkSession, root)
      val v = log.currentVersion.getOrElse(throw new java.io.FileNotFoundException(
        s"detail: table has no commits"))
      val (bytes, rows) = log.snapshotStats(v)
      result(new StructType()
        .add("version", LongType).add("files", IntegerType)
        .add("dv_files", IntegerType).add("bytes", LongType)
        .add("rows", LongType).add("partitioned_by", StringType)
        .add("analyzed_version", LongType).add("bloom_indexes", StringType)
        .add("ann_indexes", StringType).add("check_constraints", StringType)
        .add("clustered_by", StringType).add("partition_transforms", StringType)
        .add("refs", StringType).add("string_stats", StringType),
        v, log.files(v).length, log.dvFiles(v).length, bytes,
        rows.getOrElse(-1L), log.partitionColumns(v).mkString(","),
        log.analyzedStats().map(_._1).getOrElse(-1L),
        log.bloomIndexedColumns.map { case (c, bv) => s"$c@v$bv" }.mkString(","),
        AnnIndex.indexedColumns(cat.sparkSession, root)
          .map { case (c, av) =>
            // drift ratio rides the report — the staleness signal a
            // reader acts on (rebuild_ann_index / auto-retrain conf)
            val drift = AnnIndex.staleness(cat.sparkSession, root, c).getOrElse(0.0)
            if (drift > 0.0) s"$c@v$av(drift ${math.rint(drift * 100) / 100})"
            else s"$c@v$av"
          }.mkString(","),
        log.checkConstraints(v).toSeq.sortBy(_._1)
          .map { case (n, e) => s"$n: $e" }.mkString("; "),
        log.clusteringColumns(v).mkString(","),
        log.partitionTransforms.map(_.spec).mkString(","),
        log.refs.values.toSeq.sortBy(_.name)
          .map(r => s"${r.name}(${r.kind}@${r.version})").mkString(","),
        // ANALYZE's string plane: lexicographic bounds per string column
        // (the count-min frequency sketch rides the same sidecar —
        // CommitLog.analyzedStringStats answers per-value counts)
        log.analyzedStringStats().map(_._2.toSeq.sortBy(_._1)
          .map { case (c, (lo, hi, _)) =>
            s"$c['${lo.take(12)}'..'${hi.take(12)}']" }.mkString(","))
          .getOrElse(""))
    }
  }

  /** `CALL graft.system.create_mv('db.src', 'db.mv', 'grp1,grp2',
    * 'col:alias,col2:alias2')` — define + fully compute an incremental
    * aggregate view ([[MaterializedView]]); `refresh_mv` folds source
    * changes in at O(changes) via the change data feed.
    */
  private final class CreateMv(cat: GraftTableCatalog)
    extends Proc("create_mv", Seq(in("source", StringType), in("target", StringType),
      in("group_cols", StringType), in("sums", StringType))) {
    override def description(): String =
      "define + fully compute an incrementally-maintainable aggregate view " +
        "(count + exact-decimal sums by group); refresh_mv folds source " +
        "changes in at O(changes) via the change data feed"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val srcRoot = cat.rootOf(input.getUTF8String(0).toString)
      val mvRoot = cat.rootForCreate(input.getUTF8String(1).toString)
      val groups = input.getUTF8String(2).toString.split(',').map(_.trim).toSeq
        .filter(_.nonEmpty)
      val sums = input.getUTF8String(3).toString.split(',').map(_.trim).toSeq
        .filter(_.nonEmpty).map { s =>
          s.split(':') match {
            case Array(c, a) => c.trim -> a.trim
            case _ => throw new IllegalArgumentException(
              s"create_mv: sums entries are 'col:alias', got '$s'")
          }
        }
      val mv = MaterializedView.create(cat.sparkSession, mvRoot, srcRoot, groups, sums)
      result(new StructType().add("version", LongType), mv.refreshedVersion)
    }
  }

  /** `CALL graft.system.create_mv_join('db.fact', 'db.dim', 'db.mv',
    * 'fact_fk', 'dim_pk', 'grp1,grp2', 'col:alias')` — a dim-join
    * aggregate view (`fact JOIN dim ON fact_fk = dim_pk`, grouped,
    * additive aggregates): the q_supplier_revenue shape maintained
    * incrementally off the FACT change feed; a moved dim triggers one
    * full recompute at the next refresh.
    */
  private final class CreateMvJoin(cat: GraftTableCatalog)
    extends Proc("create_mv_join", Seq(in("source", StringType), in("dim", StringType),
      in("target", StringType), in("fact_key", StringType), in("dim_key", StringType),
      in("group_cols", StringType), in("sums", StringType))) {
    override def description(): String =
      "define + fully compute a dim-join aggregate view (fact JOIN dim, " +
        "count + exact-decimal sums by group), incrementally maintained " +
        "off the fact table's change feed"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val srcRoot = cat.rootOf(input.getUTF8String(0).toString)
      val dimRoot = cat.rootOf(input.getUTF8String(1).toString)
      val mvRoot = cat.rootForCreate(input.getUTF8String(2).toString)
      val fk = input.getUTF8String(3).toString
      val dk = input.getUTF8String(4).toString
      val groups = input.getUTF8String(5).toString.split(',').map(_.trim).toSeq
        .filter(_.nonEmpty)
      val sums = input.getUTF8String(6).toString.split(',').map(_.trim).toSeq
        .filter(_.nonEmpty).map { s =>
          s.split(':') match {
            case Array(c, a) => c.trim -> a.trim
            case _ => throw new IllegalArgumentException(
              s"create_mv_join: sums entries are 'col:alias', got '$s'")
          }
        }
      val mv = MaterializedView.create(cat.sparkSession, mvRoot, srcRoot,
        groups, sums, Seq((dimRoot, fk, dk)))
      result(new StructType().add("version", LongType), mv.refreshedVersion)
    }
  }

  /** `CALL graft.system.create_mv_star('db.fact', 'db.mv',
    * 'db.dim1:fk1:dk1;db.dim2:fk2:dk2', 'grp1,grp2', 'col:alias')` — an
    * N-dimension star aggregate view (`fact JOIN dim_1 ... JOIN dim_n`,
    * grouped, additive aggregates): the q_join_multiway / TPC-H Q5 shape
    * maintained incrementally off the FACT change feed; any moved dim
    * triggers one full recompute at the next refresh.
    */
  private final class CreateMvStar(cat: GraftTableCatalog)
    extends Proc("create_mv_star", Seq(in("source", StringType),
      in("target", StringType), in("dims", StringType),
      in("group_cols", StringType), in("sums", StringType))) {
    override def description(): String =
      "define + fully compute an N-dim star aggregate view (fact JOIN " +
        "dims, count + exact-decimal sums by group), incrementally " +
        "maintained off the fact table's change feed"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val srcRoot = cat.rootOf(input.getUTF8String(0).toString)
      val mvRoot = cat.rootForCreate(input.getUTF8String(1).toString)
      val joins = input.getUTF8String(2).toString.split(';').map(_.trim).toSeq
        .filter(_.nonEmpty).map { s =>
          s.split(':') match {
            case Array(d, fk, dk) => (cat.rootOf(d.trim), fk.trim, dk.trim)
            case _ => throw new IllegalArgumentException(
              s"create_mv_star: dims entries are 'db.dim:fact_key:dim_key', got '$s'")
          }
        }
      val groups = input.getUTF8String(3).toString.split(',').map(_.trim).toSeq
        .filter(_.nonEmpty)
      val sums = input.getUTF8String(4).toString.split(',').map(_.trim).toSeq
        .filter(_.nonEmpty).map { s =>
          s.split(':') match {
            case Array(c, a) => c.trim -> a.trim
            case _ => throw new IllegalArgumentException(
              s"create_mv_star: sums entries are 'col:alias', got '$s'")
          }
        }
      val mv = MaterializedView.create(cat.sparkSession, mvRoot, srcRoot,
        groups, sums, joins)
      result(new StructType().add("version", LongType), mv.refreshedVersion)
    }
  }

  private final class RefreshMv(cat: GraftTableCatalog)
    extends Proc("refresh_mv", Seq(in("view", StringType))) {
    override def description(): String =
      "fold source-table changes since the last refresh into a " +
        "create_mv view via the change data feed (O(changes), never O(table))"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val mv = MaterializedView.open(cat.sparkSession,
        cat.rootOf(input.getUTF8String(0).toString))
      val (v, n) = mv.refresh()
      result(new StructType().add("source_version", LongType)
        .add("change_rows", LongType), v, n)
    }
  }

  /** `CALL graft.system.build_ann_index('db.t', 'embedding', 'vec_id',
    * 8, 5)` — train k-means IVF on the embedding column and persist
    * centroids + assignments as an `_index/ann/` sidecar
    * ([[AnnIndex.build]]), so probes in LATER sessions reuse the
    * trained structure instead of re-training; later-added vectors
    * scan conservatively until the next build.
    */
  private final class BuildAnnIndex(cat: GraftTableCatalog)
    extends Proc("build_ann_index", Seq(in("table", StringType),
      in("column", StringType), in("id_col", StringType),
      in("k", IntegerType), in("iters", IntegerType))) {
    override def description(): String =
      "train k-means IVF over an embedding column and persist " +
        "centroids + assignments under _index/ann for cross-session probes"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (v, k) = AnnIndex.build(cat.sparkSession,
        cat.rootOf(input.getUTF8String(0).toString),
        input.getUTF8String(1).toString, input.getUTF8String(2).toString,
        input.getInt(3), input.getInt(4))
      result(new StructType().add("indexed_version", LongType)
        .add("k", IntegerType), v, k)
    }
  }

  /** `CALL graft.system.drop_index('db.t', 'bloom', 'col')` — delete a
    * persisted bloom/ANN index sidecar. Readers degrade to the
    * conservative unindexed path (never a wrong answer), and the column
    * becomes eligible for type widening again. Returns whether an index
    * existed.
    */
  private final class DropIndex(cat: GraftTableCatalog)
    extends Proc("drop_index", Seq(in("table", StringType),
      in("kind", StringType), in("column", StringType))) {
    override def description(): String =
      "drop a persisted bloom/ann index sidecar; reads degrade to the " +
        "conservative unindexed path"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = cat.rootOf(input.getUTF8String(0).toString)
      val kind = input.getUTF8String(1).toString.toLowerCase(java.util.Locale.ROOT)
      require(kind == "bloom" || kind == "ann",
        s"drop_index: kind must be 'bloom' or 'ann', got '$kind'")
      val column = input.getUTF8String(2).toString
      val fs = HadoopFs.fs(cat.sparkSession, root)
      val dir = new org.apache.hadoop.fs.Path(root, s"_index/$kind/$column")
      val existed = fs.exists(dir) && fs.delete(dir, true)
      result(new StructType().add("existed", BooleanType), existed)
    }
  }

  /** `CALL graft.system.replicate('db.src', 'db.replica')` — one
    * incremental sync ([[CommitLog.replicateFrom]]): copy only pool
    * files the replica lacks, republish the source head's manifest with
    * a `#repsrc` cursor. Returns (source_version, replica_version,
    * in_sync_already) — an already-current pair is a metadata no-op.
    */
  private final class Replicate(cat: GraftTableCatalog)
    extends Proc("replicate", Seq(in("source", StringType), in("target", StringType))) {
    override def description(): String =
      "incremental physical replication: copy only the pool files the " +
        "replica lacks, republish the source head's manifest atomically " +
        "(O(changed bytes), never O(table); idempotent when in sync)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val srcRoot = cat.rootOf(input.getUTF8String(0).toString)
      val dstRoot = cat.rootForCreate(input.getUTF8String(1).toString)
      val src = new CommitLog(cat.sparkSession, srcRoot)
      val replica = new CommitLog(cat.sparkSession, dstRoot)
      val synced = replica.replicateFrom(src)
      TableMeta.copy(cat.sparkSession, srcRoot, dstRoot)
      result(new StructType().add("source_version", LongType)
        .add("replica_version", LongType).add("in_sync_already", BooleanType),
        src.currentVersion.getOrElse(-1L),
        synced.orElse(replica.currentVersion).getOrElse(-1L),
        synced.isEmpty)
    }
  }

  /** `CALL graft.system.add_constraint('db.t', 'qty_pos', 'qty > 0')` —
    * declare a CHECK constraint ([[CommitLog.addConstraint]]): one
    * pushed-down scan proves the head already satisfies it, then a
    * metadata-only commit publishes the `#check:` header; every later
    * write validates O(batch). SQL-standard NULL semantics (NULL passes).
    */
  private final class AddConstraint(cat: GraftTableCatalog)
    extends Proc("add_constraint", Seq(in("table", StringType),
      in("name", StringType), in("expr", StringType))) {
    override def description(): String =
      "declare a CHECK constraint: existing data is verified once, then " +
        "every write path validates incoming rows O(batch); violating " +
        "batches are rejected whole (NULL passes, per SQL CHECK)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val v = log.addConstraint(input.getUTF8String(1).toString,
        input.getUTF8String(2).toString)
      result(new StructType().add("version", LongType)
        .add("constraints", IntegerType), v, log.checkConstraints.size)
    }
  }

  private final class DropConstraint(cat: GraftTableCatalog)
    extends Proc("drop_constraint", Seq(in("table", StringType),
      in("name", StringType))) {
    override def description(): String =
      "remove a declared CHECK constraint (metadata-only commit; loud on " +
        "an unknown name)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val v = log.dropConstraint(input.getUTF8String(1).toString)
      result(new StructType().add("version", LongType)
        .add("constraints", IntegerType), v, log.checkConstraints.size)
    }
  }

  private final class Clone(cat: GraftTableCatalog)
    extends Proc("clone", Seq(in("source", StringType), in("target", StringType))) {
    override def description(): String =
      "zero-copy shallow clone: the target's v1 references the source's " +
        "pool files by absolute path (no data moves); compact materializes"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val srcRoot = cat.rootOf(input.getUTF8String(0).toString)
      val dstRoot = cat.rootForCreate(input.getUTF8String(1).toString)
      val log = new CommitLog(cat.sparkSession, dstRoot)
      val v = log.cloneFrom(srcRoot)
      TableMeta.copy(cat.sparkSession, srcRoot, dstRoot)
      result(new StructType().add("version", LongType)
        .add("files_referenced", IntegerType), v, log.files(v).length)
    }
  }

  /** `CALL graft.system.update_where('db.t', '<predicate>',
    * 'col = expr; col2 = expr2', 'mor'|'cow')` — the SQL surface of the
    * tiered UPDATE plane. `cow` rewrites only the touched files
    * ([[CommitLog.updateWhere]], the default, same engine as SQL
    * UPDATE's row-level rewrite); `mor` writes update VECTORS
    * ([[CommitLog.updateWhereMoR]]): old positions tombstone + corrected
    * copies append in ONE atomic commit — O(rows changed) bytes, the
    * tier frequent small updates need at 100 TB, folded back by
    * `rewrite_deletes`. Predicate and set-expressions are Spark SQL
    * expression strings evaluated against the original row
    * (simultaneous-assignment semantics); set entries split on ';' so
    * expressions may contain commas.
    */
  private final class UpdateWhere(cat: GraftTableCatalog)
    extends Proc("update_where", Seq(in("table", StringType),
      in("predicate", StringType), in("sets", StringType),
      in("mode", StringType))) {
    override def description(): String =
      "tiered UPDATE: mode=cow rewrites touched files; mode=mor writes " +
        "update vectors (tombstones + corrected copies, one atomic commit, " +
        "O(rows changed) bytes; rewrite_deletes folds the debt)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession,
        cat.rootOf(input.getUTF8String(0).toString))
      val cond = org.apache.spark.sql.functions.expr(
        input.getUTF8String(1).toString)
      val sets = input.getUTF8String(2).toString.split(';').map(_.trim).toSeq
        .filter(_.nonEmpty).map { a =>
          a.split("=", 2) match {
            case Array(c, e) if c.trim.nonEmpty && e.trim.nonEmpty =>
              c.trim -> org.apache.spark.sql.functions.expr(e.trim)
            case _ => throw new IllegalArgumentException(
              s"update_where: sets entries are 'col = expression', got '$a'")
          }
        }
      require(sets.nonEmpty, "update_where: empty set list")
      val v = input.getUTF8String(3).toString.toLowerCase(java.util.Locale.ROOT) match {
        case "mor" => log.updateWhereMoR(cond, sets)
        case "cow" => log.updateWhere(cond, sets)
        case other => throw new IllegalArgumentException(
          s"update_where: mode is 'cow' or 'mor', got '$other'")
      }
      result(new StructType().add("version", LongType), v)
    }
  }

  /** `CALL graft.system.delete_where('db.t', '<predicate>', 'cow'|'mor')`
    * — the SQL surface of the tiered DELETE plane, parity with
    * [[UpdateWhere]]. `cow` rewrites only the files containing a match
    * ([[CommitLog.deleteWhere]], same engine as SQL DELETE's row-level
    * rewrite); `mor` records (file, position) tombstones
    * ([[CommitLog.deleteWhereMoR]]) — O(rows deleted) bytes, zero data
    * files rewritten, the tier frequent small deletes (GDPR erasure
    * drips, late retractions) need at 100 TB; `rewrite_deletes` folds
    * the debt.
    */
  private final class DeleteWhere(cat: GraftTableCatalog)
    extends Proc("delete_where", Seq(in("table", StringType),
      in("predicate", StringType), in("mode", StringType))) {
    override def description(): String =
      "tiered DELETE: mode=cow rewrites touched files; mode=mor records " +
        "position tombstones (O(rows deleted) bytes, one atomic commit; " +
        "rewrite_deletes folds the debt)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession,
        cat.rootOf(input.getUTF8String(0).toString))
      val cond = org.apache.spark.sql.functions.expr(
        input.getUTF8String(1).toString)
      val v = input.getUTF8String(2).toString.toLowerCase(java.util.Locale.ROOT) match {
        case "mor" => log.deleteWhereMoR(cond)
        case "cow" => log.deleteWhere(cond)
        case other => throw new IllegalArgumentException(
          s"delete_where: mode is 'cow' or 'mor', got '$other'")
      }
      result(new StructType().add("version", LongType), v)
    }
  }

  private final class MergeMor(cat: GraftTableCatalog)
    extends Proc("merge_mor", Seq(in("table", StringType),
      in("source", StringType), in("key_col", StringType),
      in("mode", StringType))) {
    override def description(): String =
      "merge-on-read MERGE: tombstone every visible matched key and " +
        "append the whole batch in ONE atomic publish — O(rows in " +
        "batch) bytes, zero file rewrites (the CDC-upsert tier; SQL " +
        "MERGE INTO is the copy-on-write tier). source is any " +
        "session-readable table or view; mode='evolve' lets the batch " +
        "add new columns (MERGE WITH SCHEMA EVOLUTION's MoR twin), " +
        "mode='strict' bounces them"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession,
        cat.rootOf(input.getUTF8String(0).toString))
      val src = cat.sparkSession.table(input.getUTF8String(1).toString)
      val evolve = input.getUTF8String(3).toString
          .toLowerCase(java.util.Locale.ROOT) match {
        case "evolve" => true
        case "strict" => false
        case other => throw new IllegalArgumentException(
          s"merge_mor: mode is 'strict' or 'evolve', got '$other'")
      }
      val v = log.mergeMoR(src, input.getUTF8String(2).toString,
        evolve = evolve)
      result(new StructType().add("version", LongType), v)
    }
  }

  /** `CALL graft.system.commit_all('db.entity,db.audit', 'v_ent,v_aud',
    * 'append,append')` — the SQL surface of [[CrossTableTxn.commitAll]]:
    * each source (a temp view or any readable table) commits into its
    * target table, and ALL the commits become visible atomically or none
    * do (presumed-abort 2PC decided by one put-if-absent file under the
    * first table's `_xtxn/`). This is the reference's R18 shape — entity
    * row + audit event from one handler — reachable from the SQL front
    * door like every other write-plane feature. `modes` entries are
    * `append` or `replace`, one per table (or one value for all).
    */
  private final class CommitAll(cat: GraftTableCatalog)
    extends Proc("commit_all", Seq(in("tables", StringType),
      in("sources", StringType), in("modes", StringType))) {
    override def description(): String =
      "atomic cross-table transaction: commit each source into its table, " +
        "all visible together or none (CrossTableTxn 2PC; entity+audit shape)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = cat.sparkSession
      val tables = input.getUTF8String(0).toString.split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq
      val sources = input.getUTF8String(1).toString.split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq
      val modes0 = input.getUTF8String(2).toString.split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq
      require(tables.nonEmpty && sources.length == tables.length,
        s"commit_all: ${tables.length} table(s) but ${sources.length} source(s)")
      val modes =
        if (modes0.length == 1) Seq.fill(tables.length)(modes0.head)
        else modes0
      require(modes.length == tables.length,
        s"commit_all: ${tables.length} table(s) but ${modes.length} mode(s)")
      val writes = tables.lazyZip(sources).lazyZip(modes).map { (t, src, m) =>
        val replace = m.toLowerCase(java.util.Locale.ROOT) match {
          case "append"  => false
          case "replace" => true
          case other => throw new IllegalArgumentException(
            s"commit_all: mode is 'append' or 'replace', got '$other'")
        }
        (new CommitLog(spark, cat.rootOf(t)), spark.table(src), replace)
      }
      val coordDir = new org.apache.hadoop.fs.Path(
        cat.rootOf(tables.head), "_xtxn").toString
      val vs = CrossTableTxn.commitAll(spark, coordDir, writes)
      resultRows(new StructType()
        .add("table", StringType).add("version", LongType),
        tables.lazyZip(vs).map((t, v) => Seq(t, v)))
    }
  }

  private final class RewriteDeletes(cat: GraftTableCatalog)
    extends Proc("rewrite_deletes", Seq(in("table", StringType))) {
    override def description(): String =
      "fold merge-on-read deletion vectors into the data files they tombstone"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      val (dvs, rewritten) = log.rewriteDeletes()
      result(new StructType().add("dv_files_folded", IntegerType)
        .add("data_files_rewritten", IntegerType), dvs, rewritten)
    }
  }

  private final class ExportDelta(cat: GraftTableCatalog)
    extends Proc("export_delta", Seq(in("table", StringType), in("dest", StringType))) {
    override def description(): String =
      "export the table head as a minimal Delta table (renamed columns " +
        "export as Delta column mapping, mode=name)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = cat.rootOf(input.getUTF8String(0).toString)
      val n = DeltaInterop.exportDelta(cat.sparkSession,
        root, input.getUTF8String(1).toString)
      result(new StructType().add("files_exported", IntegerType), n)
    }
  }

  private final class History(cat: GraftTableCatalog)
    extends Proc("history", Seq(in("table", StringType))) {
    override def description(): String =
      "retained versions newest-first: operation, commit time, " +
        "file/tombstone/txn counts, partition spec"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val log = new CommitLog(cat.sparkSession, cat.rootOf(input.getUTF8String(0).toString))
      resultRows(new StructType()
        .add("version", LongType).add("operation", StringType)
        .add("committed_at_ms", LongType)
        .add("data_files", IntegerType).add("dv_files", IntegerType)
        .add("txns", IntegerType).add("partitioned_by", StringType),
        log.history().map(h => Seq[Any](h.version, h.operation, h.committedAtMs,
          h.dataFiles, h.dvFiles, h.txnCount, h.partitionColumns.mkString(","))))
    }
  }

  private final class ExportIceberg(cat: GraftTableCatalog)
    extends Proc("export_iceberg", Seq(in("table", StringType), in("dest", StringType))) {
    override def description(): String =
      "export the table head as a minimal Iceberg v2 table (HadoopCatalog " +
        "layout; renamed columns export via schema.name-mapping.default)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = cat.rootOf(input.getUTF8String(0).toString)
      val n = IcebergInterop.exportIceberg(cat.sparkSession,
        root, input.getUTF8String(1).toString)
      result(new StructType().add("files_exported", IntegerType), n)
    }
  }

  private final class ImportIceberg(cat: GraftTableCatalog)
    extends Proc("import_iceberg", Seq(in("source", StringType), in("table", StringType))) {
    override def description(): String =
      "import an Iceberg table's current snapshot as a commit (table created if absent)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = cat.rootForCreate(input.getUTF8String(1).toString)
      val v = IcebergInterop.importIceberg(cat.sparkSession,
        input.getUTF8String(0).toString, root)
      result(new StructType().add("version", LongType), v)
    }
  }

  /** Rewrite a column-mapped table so files store the LOGICAL names: one
    * replace commit reading physical→logical, then the mapping metadata
    * is stripped (the dropped-name registry is kept — those physical
    * names stay reserved because retained HISTORY versions still
    * reference old files). After this, streaming reads, SQL MERGE/UPDATE
    * and Delta/Iceberg exports work again. Caveat (same as any format
    * that rewrites mapping away): time travel to PRE-materialize versions
    * reads those snapshots under their physical column names.
    */
  private final class MaterializeMapping(cat: GraftTableCatalog)
    extends Proc("materialize_mapping", Seq(in("table", StringType))) {
    override def description(): String =
      "rewrite a renamed/dropped-column table so data files store the logical names"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      import org.apache.spark.sql.functions.col
      val root = cat.rootOf(input.getUTF8String(0).toString)
      val (declaredOpt, renames, dropped) = mappingStateOf(cat, root)
      val resultSchema = new StructType()
        .add("version", LongType).add("columns_materialized", IntegerType)
      if (renames.isEmpty && dropped.isEmpty)
        return result(resultSchema, -1L, 0)   // nothing to do; no commit
      val schema = declaredOpt.getOrElse(throw new IllegalStateException(
        s"materialize_mapping: no declared schema under $root"))
      val log = new CommitLog(cat.sparkSession, root)
      val partCols = GraftTable.resolve(cat.sparkSession, root).partCols
      // the head is read inside the race: a commit landing first is renamed too
      val v = log.rewriteHead(partCols)(m => log.read(m).select(schema.fields.map(f =>
        col(s"`${ColumnMapping.physicalName(f)}`").as(f.name)).toIndexedSeq: _*))
      val plain = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
      TableMeta.update(HadoopFs.fs(cat.sparkSession, root), root)(
        _.copy(schema = Some(plain))): Unit
      result(resultSchema, v, renames.size)
    }
  }

  private final class ImportDelta(cat: GraftTableCatalog)
    extends Proc("import_delta", Seq(in("source", StringType), in("table", StringType))) {
    override def description(): String =
      "import a Delta table's head snapshot as a commit (table created if absent)"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = cat.rootForCreate(input.getUTF8String(1).toString)
      val v = DeltaInterop.importDelta(cat.sparkSession,
        input.getUTF8String(0).toString, root)
      result(new StructType().add("version", LongType), v)
    }
  }

  /** `CALL graft.system.promote_replica('db.replica', 'db.old_primary')`
    * — region failover ([[CommitLog.promote]]): make the replica the
    * writable primary (drop its `#repsrc` cursor, bump the failover
    * generation) and best-effort FENCE the old primary so a rejoining
    * stale region bounces both writes and replication serves. Pass ''
    * for old_primary when the lost region is unreachable; re-CALL with
    * it once the region rejoins — on an already-promoted table the call
    * is an idempotent fence-stamp at the current generation, never a
    * second promotion. Reverse resync = `CALL replicate('db.promoted',
    * 'db.old_primary')` (the synced manifest carries the promoted
    * generation, clearing the fence check), after which parity holds
    * and a later failback promotes the old side at generation + 1.
    * Returns (version, generation, old_primary_fenced).
    */
  private final class PromoteReplica(cat: GraftTableCatalog)
    extends Proc("promote_replica", Seq(in("table", StringType),
      in("old_primary", StringType))) {
    override def description(): String =
      "failover: promote a replica to the writable primary (drops the " +
        "sync cursor, bumps the generation fence) and fence the stale " +
        "primary so its writes and syncs bounce; '' skips fencing"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = cat.rootOf(input.getUTF8String(0).toString)
      val log = new CommitLog(cat.sparkSession, root)
      val oldName = input.getUTF8String(1).toString.trim
      val old = if (oldName.isEmpty) None
        else Some(new CommitLog(cat.sparkSession, cat.rootOf(oldName)))
      val schema = new StructType().add("version", LongType)
        .add("generation", LongType).add("old_primary_fenced", BooleanType)
      val isReplica = log.currentVersion
        .exists(v => log.headerOf(v, "repsrc").isDefined)
      if (isReplica) {
        val (v, gen, fenced) = log.promote(old)
        result(schema, v, gen, fenced)
      } else {
        // already promoted: idempotent late fence-stamp for a region
        // that was unreachable at failover time
        val gen = log.generation
        require(gen > 0,
          s"promote_replica: table is neither a replica nor ever " +
            "promoted (generation 0) — nothing to promote or fence")
        val fenced = old.exists { o =>
          try { o.writeFence(gen, root); true }
          catch { case scala.util.control.NonFatal(_) => false }
        }
        result(schema, log.currentVersion.getOrElse(-1L), gen, fenced)
      }
    }
  }

  /** `CALL graft.system.maintain_all('db')` — walk every table in the
    * namespace and apply each one's DECLARED maintenance policies
    * (TTL, tombstone-fold, compaction, vacuum — [[CommitLog.maintain]]).
    * The publish-time hooks only fire on the commit path, so a COLD
    * table keeps its debt forever; this is the one standing call (cron
    * it, or run it after bursts) that closes that gap with no
    * per-table operator knowledge: tables without declared policies
    * are untouched, and a failure on one table is recorded in its row
    * while the walk continues. Returns one row per table:
    * (table, planes_fired, error).
    */
  private final class MaintainAll(cat: GraftTableCatalog)
    extends Proc("maintain_all", Seq(in("namespace", StringType))) {
    override def description(): String =
      "apply every table's declared TBLPROPERTIES maintenance policies " +
        "(ttl/fold/compact/vacuum) across a namespace — services cold " +
        "tables the publish-time hooks never see; per-table failures " +
        "don't stop the walk"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val ns = input.getUTF8String(0).toString
        .split('.').filter(_.nonEmpty)
      val rows = cat.listTables(ns).toSeq.sortBy(_.name()).map { id =>
        val q = (id.namespace() :+ id.name()).mkString(".")
        try {
          val planes = new CommitLog(cat.sparkSession, cat.rootOf(q)).maintain()
          Seq[Any](q, planes.mkString(","), "")
        } catch {
          case scala.util.control.NonFatal(e) =>
            Seq[Any](q, "", s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      resultRows(new StructType().add("table", StringType)
        .add("planes_fired", StringType).add("error", StringType), rows)
    }
  }

  /** `CALL graft.system.snapshot_group('db.a,db.b')` — pin the heads of
    * N tables as one consistent group ([[CrossTableTxn.pinGroup]]): the
    * returned versions never straddle a concurrent `commit_all`, so a
    * reader joining the tables at these versions (time travel /
    * `VERSION AS OF`) can never see half a transaction. Returns one row
    * per table: (table, version).
    */
  private final class SnapshotGroup(cat: GraftTableCatalog)
    extends Proc("snapshot_group", Seq(in("tables", StringType))) {
    override def description(): String =
      "pin N tables' heads as one consistent snapshot group (never " +
        "splits a concurrent commit_all); read them with VERSION AS OF"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val names = input.getUTF8String(0).toString
        .split(',').map(_.trim).filter(_.nonEmpty).toSeq
      require(names.nonEmpty, "snapshot_group: no tables given")
      val logs = names.map(n => new CommitLog(cat.sparkSession, cat.rootOf(n)))
      val pinned = CrossTableTxn.pinGroup(logs)
      resultRows(new StructType().add("table", StringType)
        .add("version", LongType),
        names.zip(pinned).map { case (n, v) => Seq[Any](n, v) })
    }
  }

  /** `CALL graft.system.query_history('db.qaudit', n)` — the latest `n`
    * READ-audit events from a [[QueryAudit]] table: (key, run, wall_ms,
    * rows, plan_fingerprint, status, ts) — reads audited like writes,
    * completing R18 (the reference audits `read_source` exactly as the
    * write handlers, lambda_function.py:86). The table is an ordinary
    * commit-log table, so unbounded history stays on the SQL surface
    * (`SELECT ... FROM <table>`); this call is the bounded operator
    * view, newest first.
    */
  private final class QueryHistory(cat: GraftTableCatalog)
    extends Proc("query_history", Seq(in("table", StringType),
      in("limit", IntegerType))) {
    override def description(): String =
      "latest n query-audit events (key, run, wall_ms, rows, " +
        "plan_fingerprint, status, ts) from a QueryAudit table — the " +
        "read-path completion of the R18 audit surface"
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val root = cat.rootOf(input.getUTF8String(0).toString)
      val n = input.getInt(1)
      require(n > 0, s"query_history: limit must be positive, got $n")
      val ev = new QueryAudit(cat.sparkSession, root).events
      val rows = ev.orderBy(org.apache.spark.sql.functions.col("ts").desc,
          org.apache.spark.sql.functions.col("key"))
        .limit(n)
        .select("key", "run", "wall_ms", "rows", "plan_fingerprint",
          "status", "ts")
        .collect()
        .map(r => Seq[Any](r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getString(5),
          r.getTimestamp(6).getTime * 1000L))
      resultRows(new StructType().add("key", StringType)
        .add("run", StringType).add("wall_ms", LongType)
        .add("rows", LongType).add("plan_fingerprint", StringType)
        .add("status", StringType).add("ts", TimestampType), rows.toSeq)
    }
  }
}
