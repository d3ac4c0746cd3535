package graft.catalog

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, GraftSqlShim, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, input_file_name, lit}
import org.apache.spark.sql.types.StructType

/** Per-file min/max of one column, harvested from the parquet footer at
  * commit time and carried in the manifest line. Values are kept as
  * strings with a type tag so manifests stay a plain text format;
  * comparisons parse per type. Strings compare as UTF-16 `compareTo` on
  * both sides of the pruning test, so pruning is self-consistent (and
  * exact for the ASCII identifiers the registry keys actually use).
  */
private[graft] case class ColStats(tpe: String, min: String, max: String) {
  /** Could any value in [lo, hi] live in a file with these bounds? The
    * bounds are rendered into the stats domain first
    * ([[CommitLog.statsComparable]]: a DATE as its epoch day, a TIMESTAMP
    * as epoch micros), and a bound this file's type cannot parse keeps
    * the file: a conservative scan, never a wrong skip.
    */
  def overlaps(lo: Any, hi: Any): Boolean =
    scala.util.Try(
      ColStats.cmp(tpe, min, CommitLog.statsComparable(hi)) <= 0 &&
        ColStats.cmp(tpe, max, CommitLog.statsComparable(lo)) >= 0).getOrElse(true)
}

private[graft] object ColStats {
  /** Typed order on the string-tagged values. */
  def cmp(tpe: String, a: String, b: String): Int = tpe match {
    case "long"   => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _        => a.compareTo(b)
  }

  /** Row-group merge: widen `a` to also cover `b`. */
  def widen(a: ColStats, b: ColStats): ColStats = ColStats(a.tpe,
    if (cmp(a.tpe, b.min, a.min) < 0) b.min else a.min,
    if (cmp(a.tpe, b.max, a.max) > 0) b.max else a.max)
}

/** One row of [[CommitLog.history]]: a retained version's metadata. */
case class CommitInfo(version: Long, committedAtMs: Long, dataFiles: Int,
    dvFiles: Int, txnCount: Int, partitionColumns: Seq[String],
    operation: String = "")

/** One named ref of [[CommitLog.refs]]: `kind` is `"tag"` (immutable
  * pointer at a main-table version, pinned against vacuum) or
  * `"branch"` (a mutable fork whose own commit chain lives under
  * `_branches/<name>`); `version` is the tagged version (tag) or the
  * main-table fork point (branch).
  */
case class RefInfo(name: String, kind: String, version: Long)

/** One data-pool file of a version ([[CommitLog.fileDetails]]): name
  * relative to `data/` (absolute for shallow-clone references),
  * `partition` = its layout directory, bytes/rows from manifest tags
  * (None for pre-tag commits).
  */
case class FileDetail(name: String, partition: String,
    bytes: Option[Long], rows: Option[Long])

/** One declared hidden-partition transform (reference: Iceberg partition
  * transforms): rows are laid out by a DERIVED hive partition column
  * computed from `src`, and the derived column never surfaces through
  * [[CommitLog.read]]/[[CommitLog.readWhere]] — queries filter on the
  * SOURCE column and pruning happens through the transform. `kind` is
  * `year|month|day|hour` (zero-padded date renderings, so lexicographic
  * order IS chronological and range predicates prune), `bucket` (xxhash64
  * mod `arg`; equality/IN prune), or `truncate` (width-`arg` prefix /
  * floor-to-multiple; monotone, ranges prune). `srcType` is the source
  * column's DDL type — the probe side casts literals with it so probe
  * hashing/formatting matches the write side exactly.
  */
case class PartitionTransform(kind: String, src: String, srcType: String,
    arg: Long) {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.{functions => F}

  def derivedName: String = kind match {
    case "bucket" | "truncate" => s"_p_${kind}_${arg}_$src"
    case k                     => s"_p_${k}_$src"
  }

  /** Human spec form, the declaration-equality key across commits. */
  def spec: String = kind match {
    case "bucket" | "truncate" => s"$kind($arg, $src)"
    case k                     => s"$k($src)"
  }

  private def numericSrc: Boolean =
    Set("TINYINT", "SMALLINT", "INT", "BIGINT")(srcType.toUpperCase)

  /** The derived partition value of a source-column expression. */
  def derive(c: Column): Column = kind match {
    case "year"     => F.date_format(c, "yyyy")
    case "month"    => F.date_format(c, "yyyy-MM")
    case "day"      => F.date_format(c, "yyyy-MM-dd")
    case "hour"     => F.date_format(c, "yyyy-MM-dd-HH")
    case "bucket"   => F.pmod(F.xxhash64(c), F.lit(arg))
    case "truncate" =>
      if (numericSrc) c - F.pmod(c, F.lit(arg)) else F.substring(c, 1, arg.toInt)
    case other => throw new IllegalArgumentException(
      s"unknown partition transform kind '$other'")
  }

  /** Order-preserving transforms admit range pruning; bucket admits only
    * equality/IN.
    */
  def monotone: Boolean = kind != "bucket"

  /** Manifest stats type tag of the derived column. */
  def derivedTpe: String =
    if (kind == "bucket" || (kind == "truncate" && numericSrc)) "long" else "string"
}

object CommitLog {
  /** Default vacuum retention floor for committed VERSIONS (the streaming-
    * checkpoint handshake): 7 days, the common lakehouse default.
    */
  val DefaultVersionRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Render a typed cutoff into the manifest-stats comparison domain
    * ([[ColStats.cmp]]): DATE → epoch-day (parquet INT32 days, tagged
    * "long"), TIMESTAMP/Instant → epoch-micros (INT64 micros), numbers
    * and strings as-is. A rendering the file's stats type cannot parse
    * demotes that file to a conservative scan — never a wrong skip.
    */
  private[catalog] def statsComparable(x: Any): String = x match {
    case d: java.sql.Date       => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case t: java.sql.Timestamp =>
      (Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L) +
        t.getNanos / 1000).toString
    case i: java.time.Instant =>
      (Math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000).toString
    case other => String.valueOf(other)
  }

  /** Per-table-root monitors serializing descriptor read-modify-write
    * cycles ([[TableMeta.update]]) within this JVM, so concurrent
    * property merges on one table never lose each other's keys. (Cross-
    * process writers are covered by the temp-file + atomic-rename
    * publish — a reader can never observe a torn descriptor — and last-
    * writer-wins on the merged definition, the same posture as
    * TBLPROPERTIES DDL everywhere.)
    */
  private[catalog] val sidecarLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Monitor for a table root's descriptor writes, keyed by the root's
    * normalized URI path so the CommitLog and catalog-DDL surfaces
    * contend on the same lock.
    */
  private[catalog] def sidecarLock(root: String): Object =
    sidecarLocks.computeIfAbsent(
      new org.apache.hadoop.fs.Path(root).toUri.getPath, _ => new Object)

  /** One [[CommitLog.analyze]] result: per-column (ndv, nulls), equi-
    * height histograms (binHeight, endpoints, perIntervalNdv), numeric
    * (min, max) and string (min, max, base64 count-min sketch). Sketches
    * decode only when [[strings]] is read.
    */
  private[catalog] final case class Analyzed(version: Long, rows: Long,
      cols: Map[String, (Long, Long)],
      hists: Map[String, (Double, Seq[Double], Seq[Long])],
      minMax: Map[String, (Double, Double)],
      sketches: Map[String, (String, String, String)]) {
    lazy val strings: Map[String, (String, String, org.apache.spark.util.sketch.CountMinSketch)] =
      sketches.map { case (c, (lo, hi, b64)) =>
        c -> ((lo, hi, org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(b64)))))
      }
  }

  private[catalog] object Analyzed {
    import org.json4s._

    def parse(body: String): Option[Analyzed] =
      org.json4s.jackson.JsonMethods.parse(body) match {
        case j: JObject => (j \ "version", j \ "rows") match {
          case (JInt(v), JInt(rows)) =>
            val cols: Seq[(String, Map[String, JValue])] = j \ "columns" match {
              case JObject(cf) => cf.collect { case (c, JObject(cv)) => c -> cv.toMap }
              case _ => Nil
            }
            def dbl(x: JValue): Option[Double] = x match {
              case JDouble(d) => Some(d)
              case JInt(n) => Some(n.toDouble)
              case JDecimal(d) => Some(d.toDouble)
              case _ => None
            }
            def long(m: Map[String, JValue], k: String): Long =
              m.get(k).collect { case JInt(n) => n.toLong }.getOrElse(0L)
            def str(m: Map[String, JValue], k: String): Option[String] =
              m.get(k).collect { case JString(x) => x }
            val hists = cols.collect { case (c, m) if m.contains("eps") =>
              val eps = m.get("eps").collect { case JArray(vs) => vs.flatMap(dbl) }
                .getOrElse(Nil)
              val indv = m.get("indv").collect { case JArray(vs) => vs.collect {
                case JInt(x) => x.toLong
                case JDouble(x) => x.toLong
              } }.getOrElse(Nil)
              val height =
                if (indv.isEmpty) 0.0 else (rows.toLong - long(m, "nulls")).toDouble / indv.size
              c -> ((height, eps: Seq[Double], indv: Seq[Long]))
            }.filter { case (_, (_, eps, indv)) => eps.size == indv.size + 1 && indv.nonEmpty }
            Some(Analyzed(v.toLong, rows.toLong,
              cols.map { case (c, m) => c -> ((long(m, "ndv"), long(m, "nulls"))) }.toMap,
              hists.toMap,
              cols.flatMap { case (c, m) =>
                for (lo <- m.get("min").flatMap(dbl); hi <- m.get("max").flatMap(dbl))
                  yield c -> ((lo, hi))
              }.toMap,
              cols.flatMap { case (c, m) =>
                for (lo <- str(m, "smin"); hi <- str(m, "smax"); cms <- str(m, "cms"))
                  yield c -> ((lo, hi, cms))
              }.toMap))
          case _ => None
        }
        case _ => None
      }
  }

  /** Rows a write batch may hold on the driver ([[evaluated]]). A
    * registry write carries a handful and a landing-file upsert about a
    * thousand.
    */
  private val BatchRowCap: Int = 10000

  /** Estimated bytes of a write batch's inputs (the sum over its plan's
    * leaves) past which [[evaluated]] does not try the driver collect.
    * [[BatchRowCap]] rows are a few hundred KiB of parquet (10,000 TPC-H
    * orders rows of three columns are ~170 KiB), so a batch read from more
    * is not expected to fit the cap, and one read from less bounds both
    * the collect that finds it over the cap and the driver copy, unless a
    * join or generator widens its rows. A leaf Spark cannot size (an RDD)
    * estimates as unbounded.
    */
  private val BatchInputByteCap: Long = 1L << 20

  /** A write batch evaluated once, so the checks, probes and stage write
    * that follow read its rows instead of re-running its plan. A batch
    * that already plans as a LocalRelation is returned as is (no job).
    * One read from at most [[BatchInputByteCap]] bytes is collected up to
    * [[BatchRowCap]] rows (one job) and comes back as a LocalRelation.
    * Any other batch is too large for the driver: a deterministic one is
    * returned as is and re-runs its plan at each step, which costs less
    * than pinning its rows on the executors; a nondeterministic one is
    * local-checkpointed so its checks and its staged rows see the same
    * rows.
    */
  private[catalog] def evaluated(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    if (plan.isInstanceOf[LocalRelation]) df
    else {
      val onDriver =
        if (plan.collectLeaves().map(_.stats.sizeInBytes).sum > BatchInputByteCap) None
        else Some(df.limit(BatchRowCap + 1).collect()).filter(_.length <= BatchRowCap)
      onDriver match {
        case Some(rows) => df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema)
        case None       => if (plan.deterministic) df else df.localCheckpoint()
      }
    }
  }

  /** Whether `df` plans as a LocalRelation: its rows are on the driver. */
  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The keys of a write batch: `frame` holds each key once, `duplicated`
    * says whether a key repeats in the batch (NULL counts as one key, as
    * in `distinct`), and `bounds` is the (min, max) of its non-null keys,
    * None when it has none.
    */
  private[catalog] final case class BatchKeys(frame: DataFrame, duplicated: Boolean,
      bounds: Option[(Any, Any)])

  /** [[BatchKeys]] of `batch`'s `keyCol`. A driver-held batch
    * ([[isLocal]]) answers on the driver with no job; any other batch,
    * or keys with no exact driver order or equality (floating point,
    * binary, nested), pays one fused aggregate: count, count(distinct),
    * min and max.
    */
  private[catalog] def keysOf(batch: DataFrame, keyCol: String): BatchKeys = {
    import org.apache.spark.sql.functions.{count, count_distinct, max, min}
    val keys = batch.select(keyCol)
    val onDriver = Option.when(isLocal(keys))(keys.collect())
      .filter(_.forall(r => r.isNullAt(0) || (r.get(0) match {
        case _: java.lang.Double | _: java.lang.Float => false
        case _: Comparable[_] => true
        case _ => false
      })))
    onDriver match {
      case Some(rows) =>
        val distinct = rows.distinct
        val present = distinct.iterator.filterNot(_.isNullAt(0))
          .map(_.get(0).asInstanceOf[Comparable[Any]]).toSeq
        val order = Ordering.fromLessThan[Comparable[Any]](_.compareTo(_) < 0)
        BatchKeys(
          if (distinct.length == rows.length) keys
          else batch.sparkSession.createDataFrame(distinct.toSeq.asJava, keys.schema),
          distinct.length < rows.length,
          if (present.isEmpty) None else Some((present.min(order), present.max(order))))
      case None =>
        val k = col(keyCol)
        val a = keys.agg(count(lit(1)), count_distinct(k), count(k), min(k), max(k)).head()
        val n = a.getLong(0)
        val duplicated = a.getLong(1) + (if (a.getLong(2) < n) 1 else 0) < n
        BatchKeys(if (duplicated) keys.distinct() else keys, duplicated,
          if (a.isNullAt(3)) None else Some((a.get(3), a.get(4))))
    }
  }

  /** The distinct values of one partition ([[CommitLog.collectNames]]),
    * at most `cap` + 1 of them: past `cap` the caller throws anyway.
    */
  private def distinctWithin(cap: Int): Iterator[String] => Iterator[String] = { it =>
    val seen = scala.collection.mutable.HashSet.empty[String]
    while (it.hasNext && seen.size <= cap) seen += it.next()
    seen.iterator
  }

  /** Pool files the footer-schema memo holds; the least recently used
    * entry leaves first. A read of more files than this still gets its
    * schema from one footer job, but it pays that job on every call.
    */
  private val FooterSchemaCap: Int = 65536

  /** Footer-schema memo, JVM-wide: a parquet file's qualified path and
    * byte length, and the session's [[GraftSqlShim.FooterConversion]] →
    * the schema Spark's inference takes from its footer. Pool files
    * are immutable and uuid-named, so an entry never goes stale.
    * [[CommitLog.poolParts]] fills it from the footer it already reads,
    * and a read that finds files missing fills it with one footer job; a
    * lookup costs no I/O. Files written together mostly share a schema,
    * so values are interned ([[internSchema]]).
    */
  private val footerSchemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[FooterKey, StructType](256, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[FooterKey, StructType]): Boolean =
        size() > FooterSchemaCap
    })

  private type FooterKey = (String, Long, GraftSqlShim.FooterConversion)

  /** Canonical instances of the memo's schemas, held weakly. */
  private val internedSchemas =
    new java.util.WeakHashMap[StructType, java.lang.ref.WeakReference[StructType]]

  private def internSchema(s: StructType): StructType = internedSchemas.synchronized {
    Option(internedSchemas.get(s)).flatMap(r => Option(r.get)).getOrElse {
      internedSchemas.put(s, new java.lang.ref.WeakReference(s))
      s
    }
  }

  private def memoizeFooterSchema(k: FooterKey, s: StructType): Unit =
    footerSchemas.put(k, internSchema(s)): Unit

  /** Drop the memo's entries for files under `root` (a qualified path). */
  private[catalog] def forgetFooterSchemas(root: String): Unit =
    footerSchemas.synchronized(footerSchemas.keySet.removeIf(_._1.startsWith(root)): Unit)

  /** What one attempt of [[CommitLog.headRace]] decided: end the race
    * with `result` and publish nothing, or publish `manifest` at head+1
    * and, once it wins, return `onWin(head+1)`. `reads` is the write's
    * read test, judged from manifest stats alone: can a data entry of the
    * given manifest hold a row this write read? A write without one
    * recomputes after every lost race.
    */
  private sealed trait Attempt[+T] extends Product with Serializable
  private final case class Settle[T](result: T) extends Attempt[T]
  private final case class Publish[+T](manifest: Manifest, onWin: Long => T,
      reads: Option[Manifest => Boolean] = None) extends Attempt[T]
}

/** Versioned commit log over an immutable parquet file pool — snapshot
  * isolation for the registry's concurrent CRUD with nothing but plain
  * parquet + filesystem rename (no table-format jars ship in this
  * environment, SURVEY §7.1).
  *
  * Layout under one table root:
  * {{{
  *   <root>/data/v00000003-<uuid>-part....parquet   // immutable pool
  *   <root>/_commits/00000003.manifest              // one line per live file
  *   <root>/_tmp/...                                // staging, never read
  * }}}
  *
  * Three root files stay outside the manifest, each for its reason:
  *  - `_table.json` ([[TableMeta]]): declarations made before the first
  *    commit and DDL that publishes no version (declared schema, column
  *    mapping, partitioning, TBLPROPERTIES);
  *  - `_stats.json` ([[analyze]]): estimates, never correctness inputs;
  *  - `_fence.json` ([[fenceEpoch]]): it must hold for the root at every
  *    version, including ones published after it.
  *
  * The manifest IS the table: a version's manifest lists exactly the pool
  * files that make up that snapshot, plus versioned headers. [[Manifest]]
  * owns the format: its scaladoc lists every line kind and which headers
  * each rewrite carries. Invariants:
  *  - pool files are written once and never modified or renamed; only
  *    `vacuum` deletes them, and only when no retained version references
  *    them — so any reader that resolved a manifest keeps reading a
  *    consistent snapshot for the whole retention window, regardless of
  *    how many commits (compactions, rewrites, replications) land
  *    meanwhile. This closes the half-state window the directory-swap
  *    rewrite had (a reader that resolved file paths just before the swap
  *    read a vanishing dir).
  *  - a commit becomes visible atomically via a put-if-absent create of
  *    `_commits/NNNNNNNN.manifest` ([[LogStore]]) — readers see the old
  *    or the new version, never a torn one. The primitive is pluggable
  *    per substrate (POSIX hard-link, HDFS no-replace rename, object-
  *    store conditional PUT) because S3-class stores have NO atomic
  *    rename — and the reference's data plane is per-source S3 buckets
  *    (cft/sourceSystem.yaml:20-27), so rename-assuming commits would
  *    lose one of two racing writers on day one.
  *  - writers race on the version number optimistically ([[headRace]])
  *    (the reference fronts exactly this concurrent CRUD plane — three
  *    lambdas behind one API Gateway,
  *    swagger/aws-dl-fmwrk-swagger-apigateway.yaml:30,114,198).
  *
  * Scale: the manifest grows with file count, not row count; reads list
  * one small file + the named parquet footers. This is the plain-parquet
  * kernel of what Delta/Iceberg do with their logs — the upgrade path is
  * swapping this class out, not re-architecting callers.
  */
class CommitLog(spark: SparkSession, tableRoot: String) {
  import CommitLog.{Attempt, Publish, Settle}
  import Manifest.{Entry, Header}

  /** This table's root path, exactly as constructed — the address
    * sibling tables derive from (e.g. the strict replica's `__dlq`
    * dead-letter twin, [[graft.stream.Replicate.replayDlq]]). Named
    * with the `table` prefix deliberately: a bare `root` member would
    * silently shadow caller-scope vals inside `new CommitLog(...) {}`
    * refinements (the spec seam pattern).
    */
  def tableRootPath: String = tableRoot

  /** The root as a fully-qualified URI (scheme + absolute path): the
    * canonical identity used wherever two handles to ONE table must
    * converge regardless of how each was addressed — sidecar lock keys,
    * replication-source provenance (`#reproot:`), streaming-offset
    * lineage. A relative root and its absolute spelling qualify to the
    * same string, so they share one monitor and one lineage id.
    */
  private[graft] lazy val tableQualifiedRoot: String =
    hfs.makeQualified(new Path(tableRoot)).toString

  private val hfs: FileSystem = HadoopFs.fs(spark, tableRoot)
  private val dataDir = new Path(tableRoot, "data")
  private val commitsDir = new Path(tableRoot, "_commits")
  private val tmpDir = new Path(tableRoot, "_tmp")

  /** Publication seam: put-if-absent of a complete manifest. Overridable
    * for tests; production resolution is per storage scheme (see
    * [[LogStore]] — POSIX link, HDFS rename, object-store conditional
    * put via conf).
    */
  protected def newLogStore(): LogStore = LogStore.forPath(spark, tableRoot)
  private lazy val store: LogStore = newLogStore()

  private def manifestPath(v: Long) = new Path(commitsDir, f"$v%08d.manifest")

  // strict name gate: a stray non-numeric file in _commits/ (editor swap,
  // _SUCCESS marker, half-written temp, the _head.hint pointer) must be
  // ignored, not explode every operation with NumberFormatException
  private val ManifestName = "^(\\d{8,})\\.manifest$".r

  /** Head pointer (`_last_checkpoint` analog): a tiny file naming the
    * newest version its writer published. Purely a HINT — written
    * best-effort after every successful publish, possibly stale (a
    * crash between publish and pointer write, or two racers finishing
    * out of order, leaves it pointing low, never high) — so the head is
    * recovered by probing forward from the hint, not trusted blindly.
    * This turns head discovery from an O(versions) directory listing
    * (10⁵ commits on a streaming table = 10⁵-entry LIST per read, the
    * classic growing-log bottleneck) into one small read plus
    * O(staleness) existence probes.
    */
  private val headHint = new Path(commitsDir, "_head.hint")

  /** Test seam: every metadata-plane access funnels through here
    * (`open` = manifest/hint file read, `list` = _commits listing) so
    * specs can assert the metadata cost of the read path stays O(1) in
    * version count.
    */
  protected def onMetaAccess(kind: String): Unit = ()

  private def committedVersions: Seq[Long] = {
    onMetaAccess("list")
    if (!hfs.exists(commitsDir)) Seq.empty
    else hfs.listStatus(commitsDir).toSeq.map(_.getPath.getName).collect {
      case ManifestName(d) => d.toLong
    }
  }

  private def readHeadHint(): Option[Long] =
    try {
      onMetaAccess("open")
      Some(LogStore.readString(hfs, headHint).trim.toLong)
    } catch { case _: Exception => None }

  private def writeHeadHint(v: Long): Unit =
    try LogStore.write(hfs, headHint,
      s"$v\n".getBytes(StandardCharsets.UTF_8))
    catch { case _: Exception => () }   // a lost hint only costs probes

  /** Highest committed version, if any commit exists. O(1) metadata
    * reads on the hinted path: one hint read + forward existence probes
    * from it (versions are consecutive: commits land at head+1 and
    * vacuum drops only the oldest prefix, so the first missing manifest
    * above a live one IS the frontier). Falls back to a full listing
    * when the hint is absent or points below the vacuum horizon.
    */
  def currentVersion: Option[Long] = {
    readHeadHint() match {
      case Some(h) if isCommitted(h) =>
        var v = h
        while (isCommitted(v + 1)) v += 1
        Some(v)
      case _ =>
        val vs = committedVersions
        if (vs.isEmpty) None else Some(vs.max)
    }
  }

  def exists: Boolean = currentVersion.nonEmpty

  /** Is version `v` committed and not yet vacuumed? One existence probe. */
  private[catalog] def isCommitted(v: Long): Boolean = hfs.exists(manifestPath(v))

  /** The effective manifest of a committed version (empty for v0).
    * Stats are optional per entry, so pre-stats manifests (and entries
    * carried over from them) read unchanged — those files are simply
    * never pruned.
    */
  private def manifest(v: Long): Manifest = {
    if (v <= 0L) return Manifest.empty
    val m = rawManifest(v)
    m.xtxnDecision match {
      case None => m
      case Some(decisionUri) =>
        // a cross-table-transaction version is visible only once its
        // single decision file says commit; an aborted (or
        // reader-force-aborted) version is an empty no-op whose
        // effective content is the previous version's ([[CrossTableTxn]])
        if (CrossTableTxn.resolve(spark, decisionUri)) m.without(Manifest.XTxn)
        else manifest(v - 1)
    }
  }

  /** Pin-time decision resolution ([[CrossTableTxn.pinGroup]]): reading
    * a version's effective lines forces any pending cross-table
    * decision to resolve (committed content observed, or grace-wait
    * then forced abort) — after this call the version's content is
    * immutable, which is what makes a pinned group a stable snapshot.
    */
  private[catalog] def resolveDecision(v: Long): Unit = manifest(v): Unit

  private def rawManifest(v: Long): Manifest = {
    onMetaAccess("open")
    Manifest.read(LogStore.readString(hfs, manifestPath(v)))
  }

  /** Stage `df` and publish it as a PENDING next version of a
    * cross-table transaction ([[CrossTableTxn]]): the manifest carries
    * `#xtxn:<id>\t<decisionUri>`, so the content is invisible until the
    * transaction's one decision file commits, and an aborted version
    * resolves to the previous version's content. Concurrent
    * single-table commits are never blocked and never lost.
    */
  private[graft] def publishPending(df: DataFrame, id: String,
      decisionUri: String, replace: Boolean, maxAttempts: Int = 50): Long =
    commitWhole("publishPending", "xtxn", replace, budget = maxAttempts,
        extra = Seq(Header.xtxn(id, decisionUri)))(
      (cs, m) => enforceConstraints(df, cs, "xtxn", schemaOf(m)),
      declared => stage(clustered(df, Nil, declared), Nil, "xtxn"),
      _ => Some(df.schema))

  /** Data pool file names (relative to data/) of a committed version. */
  def files(v: Long): Seq[String] = manifest(v).dataNames

  /** Deletion-vector pool file names of a committed version (`-`-prefixed
    * manifest lines). Each is a parquet file of (data-file name, row
    * position) tombstones — the merge-on-read delete tier (see
    * [[deleteWhereMoR]]).
    */
  def dvFiles(v: Long): Seq[String] = manifest(v).dvNames

  /** Absolute pool-file paths of a committed version — the file list a
    * V2 scan binds to (the snapshot stays immutable under later commits).
    */
  def filePaths(v: Long): Seq[String] =
    files(v).map(n => new Path(dataDir, n).toString)

  /** Per-file column statistics of a committed version (absent for files
    * committed before stats existed — they are treated as unprunable).
    */
  def fileStats(v: Long): Map[String, Map[String, ColStats]] = manifest(v).fileStats

  /** Per-file detail of a retained version — the `t.files` metadata
    * table's source. Bytes/rows come from the manifest's commit-time
    * `_b`/`_n` tags (zero filesystem calls — at 100 TB the manifest IS
    * the file listing); pre-tag lines report unknown. `partition` is
    * the file's layout directory (hive `c=v` subdirs, including the
    * hidden `_p_*` transform dirs), empty for flat pools.
    */
  def fileDetails(v: Long): Seq[FileDetail] = manifest(v).data.map(e =>
    FileDetail(e.name, e.name.split('/').dropRight(1).mkString("/"), e.bytes, e.rows))

  /** Partition columns recorded in a version's manifest (`#partition:`
    * header, JSON array), empty for unpartitioned versions. Hive-style
    * layout: data files live under `data/<c1>=<v1>/<c2>=<v2>/...`, the
    * manifest names carry the subdirs, and each partition value rides
    * the file's stats as an exact (min=max) bound — so [[readWhere]]
    * prunes on partition columns through the SAME conjunctive test as
    * footer stats, exactly, before any footer is consulted. This is the
    * manifest analog of the reference's `<asset>/<batch>/init/` landing
    * layout (cft/sourceSystem.yaml:77).
    */
  def partitionColumns(v: Long): Seq[String] = manifest(v).partitionColumns

  /** Leaf file name (pool names carry partition subdirs; leaves are
    * uuid-derived and globally unique, so leaf-keyed matching — what the
    * DV tombstones and `input_file_name` discovery produce — stays exact).
    */
  private def leafOf(n: String): String = n.split('/').last

  /** Transaction ids recorded in a version's manifest (`#txn:` header
    * lines). A txn id committed WITH its data is the exactly-once seam
    * for at-least-once writers (foreachBatch redelivery): either the
    * commit landed — and its id is visible — or neither did. Ids are
    * carried forward by every commit (append carries raw lines; replace
    * re-adds the headers), so "was this batch applied" survives
    * compaction and rewrites for the table's lifetime.
    */
  def txns(v: Long): Set[String] = manifest(v).txns.toSet

  /** The head version when `txn` already landed there: a redelivered
    * batch returns it before validating or staging anything. `head` (the
    * head version and its manifest) is read only when `txn` is given.
    */
  private def appliedAt(txn: Option[String],
      head: => (Long, Manifest) = pinnedHead): Option[Long] =
    txn.flatMap { id => val (v, m) = head; if (m.hasTxn(id)) Some(v) else None }

  // ---- CHECK constraints ---------------------------------------------------

  /** CHECK constraints in force at a version (`#check:` header: compact
    * JSON object, name -> SQL boolean expression). Constraints are table
    * METADATA, not data: appends carry the header forward with the raw
    * lines, and every replace/compaction/rewrite re-adds it alongside the
    * `#txn:` memory ([[replaceCarried]]). RESTORE reverts the set with
    * the rest of the restored version's manifest — the rollback target's
    * constraints are what its data was admitted under. Grounding: the
    * reference gates every write behind gateway request validation
    * (swagger:26-27 validator, SURVEY.md §2.1 R12); this is the
    * lakehouse-native form — declared once, enforced on the write path.
    */
  def checkConstraints(v: Long): Map[String, String] = manifest(v).checks

  /** Head constraints; empty for an uncommitted table. */
  def checkConstraints: Map[String, String] =
    currentVersion.map(checkConstraints).getOrElse(Map.empty)

  // ---- evolved schema of record ---------------------------------------------

  /** Schema of record after a schema-evolving commit (`#schema:` header:
    * compact Spark schema JSON), written by merge / mergeMoR /
    * applyChangesMoR with `evolve = true`. Manifest-carried so it
    * composes with the whole temporal plane for free: RESTORE to a
    * pre-evolution version reverts the schema with the data, time travel
    * and branches pin it, shallow clones and replicas receive it with
    * the manifest, and replaces/compactions carry it
    * ([[replaceCarried]]). Absent on tables that never evolved — the
    * overwhelmingly common case pays zero read overhead. Consumers:
    * [[graft.catalog.GraftTable.schema]] widens the declared
    * schema with these columns so the SQL surface (INSERT, MERGE, the
    * `.changes` feed's pinned schema) sees the evolution a library-level
    * evolve performed.
    */
  def evolvedSchemaAt(v: Long): Option[org.apache.spark.sql.types.StructType] =
    manifest(v).schema

  def evolvedSchema: Option[org.apache.spark.sql.types.StructType] =
    currentVersion.flatMap(evolvedSchemaAt)

  /** Replace any prior `#schema:` header with the post-evolution schema:
    * the pre-evolution columns in their existing order (from the current
    * schema of record, falling back to the data schema for headerless
    * tables) plus the batch's new columns with the batch's types.
    *
    * The header records the USER-level schema: a transform table's data
    * files store the derived `_p_*` layout columns, so the headerless
    * fall-back schema must shed them — a header that recorded a hidden
    * column would EXPOSE it through `GraftTable.schema` (the SQL
    * surface appends evolved-header extras to the declared schema) and
    * through the change feed's pinned schema, breaking the
    * hidden-partition contract every other read surface keeps.
    */
  private def evolveHeader(m: Manifest, curDataSchema: => org.apache.spark.sql.types.StructType,
      newCols: Seq[String], batch: DataFrame): Manifest = {
    if (newCols.isEmpty) m
    else {
      val hidden = transformsFor(m).map(_.derivedName).toSet
      val cur0 = m.schema.getOrElse(curDataSchema)
      val cur = org.apache.spark.sql.types.StructType(
        cur0.fields.filterNot(f => hidden(f.name)))
      val add = newCols.filterNot(cur.fieldNames.contains)
      if (add.isEmpty) m
      else {
        // a widened column is NULLABLE by definition regardless of the
        // batch's own nullability: every pre-evolution row reads it as
        // NULL (recording non-null would NPE writers that NULL-fill old
        // versions against the evolved schema — e.g. the change feed)
        val widened = org.apache.spark.sql.types.StructType(
          cur.fields ++ add.map(n => batch.schema(n).copy(nullable = true)))
        m.without(Manifest.Schema) :+ Header.schema(widened)
      }
    }
  }

  /** Align an incoming batch's EXISTING columns to the table's recorded
    * types: a narrower-but-losslessly-castable column (an int batch into
    * a long table) upcasts silently; anything else fails LOUDLY. Without
    * this, the name-only schema gate lets a type-drifted batch through,
    * union coercion rewrites the touched files at the coerced type while
    * carried files keep the old one — and the next mergeSchema read of
    * the mixed pool CRASHES (int32 and int64 footers cannot merge): a
    * silently-corrupted-table class of bug. A batch that truly needs a
    * WIDER type goes through ALTER COLUMN TYPE first (the `_widen`
    * plane, q_type_widen) — widening is a table decision, never a merge
    * side effect. Evolution columns (absent from the table) keep the
    * batch's type.
    */
  private def alignTypes(updates: DataFrame,
      tableSchema: org.apache.spark.sql.types.StructType, op: String): DataFrame = {
    val byName = tableSchema.map(f => f.name -> f.dataType).toMap
    var changed = false
    val aligned = updates.schema.fields.map { f =>
      byName.get(f.name) match {
        case Some(t) if t != f.dataType =>
          if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(f.dataType, t)) {
            changed = true
            col(s"`${f.name}`").cast(t).as(f.name)
          } else throw new IllegalArgumentException(
            s"$op: column ${f.name} arrives as ${f.dataType.sql} but the " +
              s"table records ${t.sql}; widen the table first (ALTER TABLE " +
              "... ALTER COLUMN ... TYPE) — a merge must not change an " +
              "existing column's type as a side effect")
        case _ => col(s"`${f.name}`")
      }
    }
    if (changed) updates.select(aligned.toSeq: _*) else updates
  }

  /** Headers that must outlive a replace/compaction: the lineage set
    * (`#txn:` applied-batch memory; `#gen:` the failover generation —
    * losing it would make a once-promoted table's next publish bounce
    * off its own old fence) and the contract set (CHECK constraints,
    * clustering, TTL, evolved schema, the transform partition spec of
    * record). The ptspec carry keeps the
    * spec of record IN THE MANIFEST across maintenance replaces
    * (compact's tombstoned fold, optimize, fast-forward): dropping it
    * would demote the spec back to the descriptor's write-behind copy,
    * re-opening the crash window the header closes (a transform REPLACE
    * whose descriptor write crashed leaves the OLD spec there — a later
    * compact must not resurrect it). A transform replace that DECLARES a
    * new spec supersedes the carried line via `extraHeader`
    * ([[commitTransformed]]); the `#partition:` raw-layout header is
    * intentionally NOT carried — each replace re-declares its own
    * physical layout. Everything else (cursors, clone provenance) is
    * re-derived or re-declared by the rewriting operation itself.
    */
  private def replaceCarried(prev: Manifest): Manifest =
    prev.only(Manifest.Lineage ++ Manifest.Contracts)

  /** [[replaceCarried]] for replaces that REDEFINE the table's content
    * outright (INSERT OVERWRITE / `commit(replace=true)` / a replace
    * import / a Complete-mode streaming epoch): the evolved `#schema:`
    * header of record survives only while the replacement batch still
    * matches its name→type map — Delta's `overwriteSchema` posture. A
    * replacement with a different column set makes the DATA the schema
    * of record again; carrying the stale header would resurrect dropped
    * evolved columns as phantom NULLs and hide the replacement's
    * genuinely new columns at plan time. A rewrite of the head (compact's
    * fold, optimize) emits the evolved schema, so it keeps the header.
    * `newSchema` is by-name and consulted ONLY when an evolved header
    * exists, so file-based callers pay a footer read only on the rare
    * evolved-table replace; `None` (schema unknowable — e.g.
    * truncate-to-empty) carries conservatively.
    */
  private def replaceCarriedData(prev: Manifest,
      newSchema: => Option[org.apache.spark.sql.types.StructType]): Manifest = {
    val base = replaceCarried(prev)
    base.schema match {
      case Some(rec) =>
        // compare USER-level shapes: on a transform table both the
        // batch AND the recorded schema (widened from a data schema
        // that stores the layout) can carry hidden layout columns —
        // excluded on both sides, or every same-shape transform
        // overwrite would spuriously drop the header. The hidden set is
        // the table's ACTUAL derived-column names (same source as
        // evolveHeader), never a name-prefix heuristic: a genuine user
        // column that happens to be named `_p_*` must stay visible to
        // drift detection.
        val hidden = transformsFor(prev).map(_.derivedName).toSet
        def userShape(s: org.apache.spark.sql.types.StructType) =
          s.fields.filterNot(f => hidden(f.name))
            .map(f => f.name -> f.dataType).toMap
        val sameShape = newSchema.forall(ns => userShape(rec) == userShape(ns))
        if (sameShape) base else base.without(Manifest.Schema)
      case None => base
    }
  }

  // ---- operation tags ------------------------------------------------------

  /** What operation published a version (`#op:` header), empty for
    * manifests that predate the tag. Inert to every reader — pure
    * DESCRIBE HISTORY provenance.
    */
  def operation(v: Long): String = manifest(v).op.getOrElse("")

  // ---- declared clustering -------------------------------------------------

  /** Clustering columns declared at a version (`#cluster:` header, JSON
    * array). Clustering is a LAYOUT hint, not semantics: when declared,
    * every data-writing path range-partitions + sorts incoming batches
    * on these columns before staging, so each pool file carries a tight,
    * pairwise-disjoint footer min/max range and every future range/point
    * read prunes to O(matching files) — the liquid-clustering posture:
    * declared once on the table, honored by writes and maintenance, no
    * manual `optimizeBy` needed to keep layout. Values are never
    * affected; a batch missing a clustering column stages unsorted
    * (conservative, still correct).
    */
  def clusteringColumns(v: Long): Seq[String] = manifest(v).clustering

  /** Head clustering spec; empty for an uncommitted or undeclared table. */
  def clusteringColumns: Seq[String] =
    currentVersion.map(clusteringColumns).getOrElse(Seq.empty)

  /** Declare (or with `Seq.empty` clear) the table's clustering columns:
    * a metadata-only commit publishing the `#cluster:` header. Legal on
    * a table with NO commits yet (publishes a header-only v1), so the
    * layout contract can be in force from the very first data commit.
    * Existing files are NOT rewritten — `compact()`/`optimize` converge
    * them; new writes cluster immediately.
    */
  def setClustering(cols: Seq[String]): Long = {
    require(cols.distinct == cols, s"setClustering: duplicate columns in $cols")
    headRace("setClustering", "set_clustering") { (_, prev) =>
      val partCols = prev.partitionColumns
      val overlap = cols.filter(partCols.contains)
      require(overlap.isEmpty,
        s"setClustering: $overlap are partition columns — constant within " +
          "every file already, clustering them is a no-op by construction")
      if (cols.nonEmpty && prev.data.nonEmpty) {
        val have = readManifest(prev).columns.toSet
        val missing = cols.filterNot(have)
        require(missing.isEmpty,
          s"setClustering: unknown column(s) $missing (have: ${have.toSeq.sorted})")
      }
      publishAt(if (cols.isEmpty) prev.without(Manifest.Cluster)
        else prev.set(Header.cluster(cols)))
    }
  }

  /** Apply the `declared` clustering layout (the write's pinned head's)
    * to an outgoing batch: range-repartition on (partition cols ++
    * clustering cols) — disjoint ranges across tasks by construction —
    * then sort within each task, so hive partition splitting keeps
    * per-file clustering-column runs contiguous and footer bounds tight.
    * A batch missing any clustering
    * column (schema evolution) stages as-is: layout is best-effort,
    * correctness never depends on it.
    */
  private def clustered(df: DataFrame, partCols: Seq[String], declared: Seq[String],
      numParts: Option[Int] = None): DataFrame = {
    val have = df.columns.toSet
    if (declared.isEmpty || !declared.forall(have)) return df
    val keys = (partCols.filter(have) ++ declared).map(col)
    // default: UNPINNED range shuffle, so AQE sizes the output files to
    // the batch (a small append → few files, a bulk load → many) — the
    // small-file-hygiene behavior a 100 TB table wants. A pinned count
    // (spark.graft.clusteredWrite.partitions, or the caller's explicit
    // nOut in compact) bypasses AQE coalescing for callers that need a
    // deterministic file fan-out.
    val pinned = numParts.orElse {
      val c = spark.conf.get("spark.graft.clusteredWrite.partitions", "0").toInt
      if (c > 0) Some(c) else None
    }
    val ranged = pinned match {
      case Some(n) => df.repartitionByRange(n, keys: _*)
      case None    => df.repartitionByRange(keys: _*)
    }
    ranged.sortWithinPartitions(keys: _*)
  }

  /** Declare a CHECK constraint: existing data must already satisfy it
    * (one pushed-down scan of the head snapshot), then a metadata-only
    * commit publishes the updated `#check:` header atomically with the
    * unchanged content lines — so the constraint and the proof that the
    * table meets it land together or not at all. From then on every
    * write path validates O(batch) — incoming rows only, never the
    * table. Violation = the expression evaluates to FALSE; NULL passes
    * (SQL-standard CHECK, so `c > 0` admits NULL rows — declare
    * `c IS NOT NULL` separately to reject them). Losing a head race
    * re-validates against the new head, so a row appended mid-call is
    * never grandfathered in unchecked.
    */
  def addConstraint(name: String, exprSql: String): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"addConstraint: bad constraint name '$name'")
    spark.sessionState.sqlParser.parseExpression(exprSql) // fail-fast syntax
    // legal on a table with NO commits yet (header-only v1) — the SQL
    // front door declares constraints right after CREATE TABLE, before
    // the first byte lands
    headRace("addConstraint", "add_constraint") { (_, prev) =>
      val existing = prev.checks
      require(!existing.contains(name),
        s"addConstraint: constraint '$name' already exists " +
          s"(${existing(name)}) — drop it first to redefine")
      if (prev.data.nonEmpty) {
        val bad = readManifest(prev).filter(violates(exprSql)).count()
        if (bad > 0) throw new IllegalStateException(
          s"addConstraint: $bad existing row(s) violate '$name' ($exprSql) " +
            s"under $tableRoot")
      }
      publishAt(prev.set(Header.check(existing + (name -> exprSql))))
    }
  }

  /** Remove a declared constraint (metadata-only commit; loud on an
    * unknown name — silently "dropping" a typo would leave the real
    * constraint enforcing).
    */
  def dropConstraint(name: String): Long =
    headRace("dropConstraint", "drop_constraint",
        headless = Some(() => missingHead("dropConstraint: "))) { (_, prev) =>
      val existing = prev.checks
      require(existing.contains(name),
        s"dropConstraint: no constraint named '$name' " +
          s"(have: ${existing.keys.toSeq.sorted.mkString(", ")})")
      val rest = existing - name
      publishAt(if (rest.isEmpty) prev.without(Manifest.Check)
        else prev.set(Header.check(rest)))
    }

  /** Violation predicate: NOT coalesce(expr, TRUE) — FALSE rows only. */
  private def violates(exprSql: String): org.apache.spark.sql.Column =
    !org.apache.spark.sql.functions.coalesce(
      org.apache.spark.sql.functions.expr(exprSql).cast("boolean"), lit(true))

  /** Reject `df` when any row violates a constraint in `cs`. One
    * aggregate pass counts violations for EVERY constraint (the error
    * names them all, not just the first); the 3-row sample is gathered
    * only on the failure path. Columns the batch lacks (schema-evolution
    * appends) are padded as typed NULLs from `headSchema`, the schema of
    * the head the write is checked against — NULL passes, matching what
    * the padded rows will read back as. `headSchema` is evaluated only
    * when `cs` is non-empty. O(batch), never O(table), and zero cost when
    * the table declares no constraints.
    */
  private def enforceConstraints(df: DataFrame, cs: Map[String, String],
      op: String, headSchema: => org.apache.spark.sql.types.StructType): Unit = {
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions.{sum, when}
    val have = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val padded = headSchema.fields.toSeq
      .filterNot(f => have(f.name.toLowerCase(java.util.Locale.ROOT)))
      .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val named = cs.toSeq.sortBy(_._1)
    val aggs = named.map { case (_, e) =>
      sum(when(violates(e), 1L).otherwise(0L)) }
    // a driver-held batch aggregates as one part: one job, no exchange
    val counts = onePart(padded).agg(aggs.head, aggs.tail: _*).head()
    val broken = named.zipWithIndex.collect {
      case ((n, e), i) if !counts.isNullAt(i) && counts.getLong(i) > 0 =>
        (n, e, counts.getLong(i))
    }
    if (broken.nonEmpty) {
      val (_, firstExpr, _) = broken.head
      val sample = padded.filter(violates(firstExpr)).limit(3).collect()
        .mkString("; ")
      throw new IllegalStateException(
        s"$op: CHECK constraint violation — " +
          broken.map { case (n, e, c) => s"'$n' ($e): $c row(s)" }
            .mkString(", ") + s"; sample [$sample]")
    }
  }

  /** File-path twin of [[enforceConstraints]] for the staged/pooled
    * write paths (SQL row-level rewrites, streaming epochs): reads the
    * about-to-be-committed parquet `files` (path, byte length) once —
    * and only when the table declares constraints at all.
    */
  private def enforceConstraintsOnPaths(files: Seq[(Path, Long)],
      cs: Map[String, String], op: String,
      headSchema: => org.apache.spark.sql.types.StructType): Unit = {
    if (cs.isEmpty || files.isEmpty) return
    enforceConstraints(parquetOf(files).parquet(files.map(_._1.toString): _*),
      cs, op, headSchema)
  }

  /** The head version and its manifest (v0 and the empty manifest for an
    * uncommitted table): what a write validates against before its
    * [[headRace]].
    */
  private def pinnedHead: (Long, Manifest) = {
    val v = currentVersion.getOrElse(0L)
    (v, manifest(v))
  }

  /** The read schema of `m`'s snapshot: one schema-inference job (none
    * for a widened table, whose declared schema is read as is).
    */
  private def schemaOf(m: Manifest): org.apache.spark.sql.types.StructType =
    readManifest(m).schema

  /** The constraint gate of one write: `gate(cs)(check)` runs `check(cs)`
    * — which validates the write's batch against the constraint set `cs`
    * — unless the set is the one this gate last passed. A write checks
    * its batch before staging where it can (a rejected batch leaves no
    * pool litter), then on every [[headRace]] attempt against the pinned
    * head's set; the batch is validated again only when constraint DDL
    * won a race and the set moved, so a row never lands unchecked against
    * the constraints it is published under.
    */
  private final class ConstraintGate {
    private var validatedCs: Option[Map[String, String]] = None
    def apply(cs: Map[String, String])(check: Map[String, String] => Unit): Unit =
      if (!validatedCs.contains(cs)) { check(cs); validatedCs = Some(cs) }
  }

  // ---- footer statistics -------------------------------------------------

  /** Row count + min/max per top-level column, merged across the file's
    * row groups, straight from the parquet footer — no data pages are
    * read, so the cost is O(columns), not O(rows). A column whose stats
    * are missing in ANY row group is dropped (conservative: the file
    * stays a candidate for every predicate on that column). The third
    * part is the schema Spark's inference takes from the footer under
    * `conv` ([[footerSchema]]).
    */
  private def footerInfo(p: Path, conv: GraftSqlShim.FooterConversion)
      : (Long, Map[String, ColStats], StructType) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, hfs.getConf))
    try {
      val footer = reader.getFooter
      val rowCount = footer.getBlocks.asScala.map(_.getRowCount).sum
      val acc = scala.collection.mutable.Map.empty[String, ColStats]
      val bad = scala.collection.mutable.Set.empty[String]
      for (b <- footer.getBlocks.asScala;
           c <- b.getColumns.asScala if c.getPath.size == 1) {
        val name = c.getPath.toDotString
        val st = c.getStatistics
        if (st == null || st.isEmpty || !st.hasNonNullValue) bad += name
        else {
          val prim = c.getPrimitiveType
          // a TIMESTAMP bound renders as epoch micros (statsComparable),
          // so millis or nanos timestamps keep no bounds
          val microsOrNoTs = prim.getLogicalTypeAnnotation match {
            case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => true
          }
          val tagged: Option[ColStats] = prim.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 if microsOrNoTs =>
              Some(ColStats("long", st.genericGetMin.toString, st.genericGetMax.toString))
            case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE =>
              Some(ColStats("double", st.genericGetMin.toString, st.genericGetMax.toString))
            case PrimitiveTypeName.BINARY
                if prim.getLogicalTypeAnnotation ==
                  org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
              Some(ColStats("string",
                st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8,
                st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8))
            case _ => None
          }
          tagged match {
            case None => bad += name
            case Some(cs) =>
              acc(name) = acc.get(name).fold(cs)(ColStats.widen(_, cs))
          }
        }
      }
      (rowCount, (acc -- bad).toMap, conv.schemaOf(p, footer))
    } finally reader.close()
  }

  /** Snapshot read of the current version: the returned DataFrame is bound
    * to that version's immutable pool files, so later commits (or a
    * concurrent compact/replicate) cannot change or tear what it reads.
    */
  def read(): DataFrame = read(manifest(committedHead()))

  /** [[read]] of the snapshot `m`. */
  private[catalog] def read(m: Manifest): DataFrame = {
    // ONE manifest read and ONE descriptor read serve rows, dv names,
    // AND the transform spec
    val meta = tableMeta
    withoutLayout(readManifest(m, meta), transformsFor(m, meta))
  }

  /** `df` without the derived `_p_*` layout columns of the hidden-partition
    * transforms `specs`: they are internal, and the public snapshot never
    * shows them.
    */
  private def withoutLayout(df: DataFrame, specs: Seq[PartitionTransform]): DataFrame = {
    val hidden = specs.map(_.derivedName).filter(df.columns.contains)
    if (hidden.isEmpty) df else df.drop(hidden: _*)
  }

  def readVersion(v: Long): DataFrame = readManifest(manifest(v))

  private def readManifest(m: Manifest, meta: TableMeta = tableMeta): DataFrame = {
    if (m.data.isEmpty) {
      // a rewrite can legally commit an empty table (e.g. delete-all);
      // an empty-schema frame is the only honest value without a stored schema
      spark.emptyDataFrame
    } else readFiles(m.data, dvFrameOf(m.dvNames), partTypesOf(m), meta)
  }

  /** This table's descriptor ([[TableMeta]]), read fresh on every call. */
  private def tableMeta: TableMeta = TableMeta.read(hfs, tableRoot)

  // ---- merge-on-read deletion vectors ------------------------------------

  /** Tombstone schema: which row of which data pool file is deleted.
    * Positions are the file source's `_metadata.row_index` — stable for
    * an immutable parquet file regardless of split planning, which is
    * exactly the invariant the pool guarantees (files are written once,
    * never modified; only vacuum deletes them).
    */
  private val DvKeys = Seq("_graft_del_file", "_graft_del_pos")

  /** The tombstone files' schema: read as declared, with no inference. */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(DvKeys.head, org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(DvKeys.last, org.apache.spark.sql.types.LongType)))

  /** Union of a version's deletion-vector files, or None when the
    * version carries no tombstones (the fast path: reads stay the plain
    * parquet scan, zero overhead).
    */
  private def dvFrameOf(names: Seq[String]): Option[DataFrame] =
    if (names.isEmpty) None
    else Some(spark.read.schema(DvSchema)
      .parquet(names.map(n => new Path(dataDir, n).toString): _*))

  /** The pool `files` as one parquet relation. Reads of a
    * type-WIDENED table ([[TableMeta.widened]], set by ALTER COLUMN ...
    * TYPE) pass the declared schema: old files keep their narrow physical
    * types, so a merged-schema read would die on the int-vs-bigint
    * conflict, while an explicit schema lets the parquet readers promote
    * per file (int32→int64, float→double, decimal widening — native in
    * both the vectorized and row-based readers). A caller may pass
    * `schema`, the head snapshot's, which it already has: a file lacking
    * a column the head has reads it as typed NULLs. Any other read
    * declares the files' data columns from the footer-schema memo
    * ([[poolSchema]]), so it runs no inference job once the memo holds
    * its files, and infers them with mergeSchema only when the memo
    * cannot give them. Partition columns
    * are never declared: their types come from the paths either way.
    * basePath (hive partition-column rehydration)
    * applies only when every name is dataDir-relative
    * ([[Manifest.isAbsoluteName]]; `Path(dataDir, n)` resolves both) — an absolute
    * shallow-clone reference lives outside this table's root, where a
    * basePath that is not an ancestor is a hard error (clones are always
    * unpartitioned, so basePath is a no-op for them anyway).
    */
  private def pool(files: Seq[Entry], meta: TableMeta = tableMeta,
      schema: Option[StructType] = None): DataFrame = {
    val r = schema.orElse(meta.widenedReadSchema).orElse(poolSchema(files)) match {
      case Some(s) => spark.read.schema(s)
      case None    => spark.read.option("mergeSchema", "true")
    }
    (if (files.exists(_.absolute)) r else r.option("basePath", dataDir.toString))
      .parquet(files.map(e => new Path(dataDir, e.name).toString): _*)
  }

  /** `data/`, qualified once: pool names resolve against it to the
    * footer-schema memo's keys.
    */
  private lazy val qualifiedDataDir: Path = hfs.makeQualified(dataDir)

  /** A pool entry's footer-schema memo address: its qualified path and
    * byte length ([[bytesOf]]).
    */
  private def pooledFile(e: Entry): (Path, Long) = (new Path(qualifiedDataDir, e.name), bytesOf(e))

  /** [[footerSchema]] of pool entries; None when a file stores one of its
    * own hive partition columns, whose type the path value sets.
    */
  private def poolSchema(files: Seq[Entry]): Option[StructType] =
    footerSchema(files.map(pooledFile)).filterNot { s =>
      val partCols = files.iterator.filterNot(_.absolute)
        .flatMap(_.name.split('/').init.map(_.takeWhile(_ != '='))).toSet
      s.fieldNames.exists(f => partCols.exists(_.equalsIgnoreCase(f)))
    }

  /** The schema a mergeSchema read of the parquet `files` (qualified
    * path, byte length) infers, from the footer-schema memo: each file's
    * schema folds left in path order, the order Spark's inference merges
    * them in. Files the memo lacks cost one footer job, run as inference
    * runs its own, whose schemas fill the memo. None when a footer is
    * left out as corrupt: the caller's read infers.
    */
  private def footerSchema(files: Seq[(Path, Long)]): Option[StructType] =
    if (!declaresFooterSchemas || files.isEmpty) None
    else {
      val conv = GraftSqlShim.footerConversion(spark)
      val keys = files.map { case (p, len) => (p.toString, len) }.distinct.sortBy(_._1)
      val known = keys.flatMap { case k @ (p, len) =>
        Option(CommitLog.footerSchemas.get((p, len, conv))).map(k -> _)
      }.toMap
      val missing = keys.filterNot(known.contains)
      val read =
        if (missing.isEmpty) Map.empty[String, StructType]
        else GraftSqlShim.footerSchemasInParallel(spark, conv, missing)
      missing.foreach { case (p, len) =>
        read.get(p).foreach(CommitLog.memoizeFooterSchema((p, len, conv), _))
      }
      val schemas = keys.flatMap(k => known.get(k).orElse(read.get(k._1)))
      Option.when(schemas.length == keys.length)(GraftSqlShim.mergedSchema(spark, schemas))
    }

  /** Whether reads declare their files' schemas ([[footerSchema]]) rather
    * than infer them. Overridable for tests, which compare the two.
    */
  protected def declaresFooterSchemas: Boolean = true

  /** A parquet reader of the files `files` (path, byte length) declaring
    * their [[footerSchema]], or inferring it with mergeSchema when that is
    * None.
    */
  private def parquetOf(files: Seq[(Path, Long)]): org.apache.spark.sql.DataFrameReader =
    footerSchema(files.map { case (p, len) =>
      (p.getFileSystem(hfs.getConf).makeQualified(p), len) })
      .fold(spark.read.option("mergeSchema", "true"))(spark.read.schema)

  /** The data schema of `m`'s whole snapshot, for a read of only some of
    * its files ([[readEquals]], [[readWhere]], [[keyCandidateRows]]): a
    * column the head has reads as typed NULLs from candidates that all
    * predate it, as it does in [[read]]. From the memo, which one footer
    * job fills with the files of the head it lacks (a JVM that did not
    * write them), after which every pruned read of the head is served;
    * one inference job over every file of the head only when the memo
    * cannot give it ([[poolSchema]]). None on a widened table, whose
    * declared schema [[pool]] reads.
    */
  private def snapshotSchema(m: Manifest, meta: TableMeta): Option[StructType] =
    if (meta.widened || m.data.isEmpty) None
    else poolSchema(m.data).orElse(Some(spark.read.option("mergeSchema", "true")
      .parquet(m.data.map(e => new Path(dataDir, e.name).toString): _*).schema))

  /** A pool relation annotated with tombstone join keys: each row carries
    * its pool file LEAF name and its stable row position within that
    * file (leaves are uuid-unique across partition subdirs).
    */
  private def withPos(rel: DataFrame): DataFrame =
    rel.select(col("*"),
      org.apache.spark.sql.functions.substring_index(
        col("_metadata.file_path"), "/", -1).as(DvKeys.head),
      col("_metadata.row_index").as(DvKeys.last))

  /** `files` with tombstone join keys, minus the rows `dv` tombstones. */
  private def visibleWithPos(files: Seq[Entry], dv: Option[DataFrame],
      schema: Option[StructType] = None): DataFrame = {
    val rows = withPos(pool(files, schema = schema))
    dv.fold(rows)(rows.join(_, DvKeys, "left_anti"))
  }

  /** Stats-tag type per partition column of a manifest (long / double /
    * string), harvested from the first file line carrying a bound for
    * it. Read-side partition columns are CAST to these types: Spark's
    * path-based partition type inference would otherwise make the
    * column's type depend on WHICH files survive pruning — a digit-only
    * string value set infers as int unless a non-numeric sibling happens
    * to be in the read set, so the same table could read string in one
    * query and int in the next (and a pruned range read would silently
    * drop rows the lexical row filter should keep).
    */
  private def partTypesOf(m: Manifest): Map[String, String] = {
    val cols = m.partitionColumns
    if (cols.isEmpty) Map.empty
    else {
      val stats = m.fileStats
      cols.map { c =>
        // legacy manifests (pre schema-typed bounds) tagged each file by
        // the VALUE's lexical shape, so one column can carry mixed tags
        // ("2" → long beside "abc" → string). Any disagreement means the
        // column cannot be numeric: resolve to string, never first-wins —
        // a bigint cast would silently NULL the non-numeric partitions.
        val tags = stats.valuesIterator.flatMap(_.get(c).map(_.tpe)).toSet
        c -> (if (tags.size == 1) tags.head else "string")
      }.toMap
    }
  }

  private def castParts(df: DataFrame, partTypes: Map[String, String]): DataFrame =
    partTypes.foldLeft(df) { case (d, (c, t)) =>
      if (!d.columns.contains(c)) d
      else d.withColumn(c, col(c).cast(t match {
        case "long" => "bigint"; case "double" => "double"; case _ => "string"
      }))
    }

  /** Read `files` with tombstones applied: an ANTI JOIN on (file,
    * position) against the deletion vectors. The DV side is parquet-
    * backed and small by the MoR premise (tombstones, not data), so
    * Spark's size estimate broadcasts it and the scan stays one
    * shuffle-free codegen'd pass; stale tombstones referencing files no
    * longer in `files` simply match nothing. No DVs = the plain scan.
    * `schema` is [[pool]]'s.
    */
  private def readFiles(files: Seq[Entry], dv: Option[DataFrame],
      partTypes: Map[String, String] = Map.empty,
      meta: TableMeta = tableMeta,
      schema: Option[StructType] = None): DataFrame = {
    val rel = pool(files, meta, schema)
    val base = dv.fold(rel)(d =>
      withPos(rel).join(d, DvKeys, "left_anti").select(rel.columns.map(col).toIndexedSeq: _*))
    castParts(base, partTypes)
  }

  /** Commit `df` as the next version. `replace=false` appends: the new
    * manifest carries the previous version's files plus the new ones.
    * `replace=true` rewrites: the new manifest lists only the new files.
    * Returns the committed version number.
    */
  def commit(df: DataFrame, replace: Boolean): Long = commit(df, replace, None)

  /** Commit with an optional transaction id recorded atomically in the
    * same manifest (`#txn:` header). If the id is already present on the
    * head version, the commit is SKIPPED and the head version returned —
    * redelivered batches become no-ops with no crash window, because the
    * marker and the data land in one atomic manifest publish.
    */
  def commit(df: DataFrame, replace: Boolean, txn: Option[String]): Long =
    commit(df, replace, txn, None)

  /** Commit carrying an additional `#<key>:<value>` manifest header,
    * recorded ATOMICALLY with the content in the same manifest publish; a
    * previous header under the same key is superseded, not accumulated.
    * This is the cursor plane for derived state whose progress marker
    * must never be observable apart from the state itself (e.g. a
    * materialized view's last-folded source version): a crash can leave
    * the pair only wholly-published or wholly-absent.
    */
  def commit(df: DataFrame, replace: Boolean, txn: Option[String],
      header: Option[(String, String)]): Long = header match {
    case Some((Manifest.Op, op)) => commitPartitioned(df, Nil, replace, txn, Some(op))
    case _ => commitPartitioned(df, Nil, replace, txn,
      extraHeader = header.map { case (k, hv) => Header(k, hv).text })
  }

  /** The one body of every commit that adds whole files: [[commitPartitioned]]
    * (and so [[commit]]), [[commitPooledFiles]], [[commitStaged]],
    * [[commitCopiedWithTombstones]] and [[publishPending]] supply only
    * their batch and their headers. One head read before the race settles
    * an already-applied `txn`, holds the append layout rule
    * ([[requireAppendable]]), validates the batch (`check(cs, head)`)
    * before anything is staged, so a rejected batch leaves no pool
    * litter, and gives the declared clustering `stageBatch` lays the batch
    * out by. Each [[headRace]] attempt then does the same against its own
    * head, re-validating through the write's [[ConstraintGate]], and
    * publishes [[wholeManifest]], `newSchema(entries)` being a replacement's
    * schema.
    */
  private def commitWhole(name: String, op: String, replace: Boolean,
      partCols: Seq[String] = Nil, txn: Option[String] = None,
      extra: Seq[Manifest.Line] = Nil, budget: Int = 50)(
      check: (Map[String, String], Manifest) => Unit,
      stageBatch: Seq[String] => Seq[Entry],
      newSchema: Seq[Entry] => Option[StructType]): Long = {
    val (preV, pre) = pinnedHead
    for (v <- appliedAt(txn, (preV, pre))) return v
    if (!replace) requireAppendable(name, partCols, pre, raced = false)
    val gate = new ConstraintGate
    gate(pre.checks)(check(_, pre))
    val entries = stageBatch(pre.clustering)
    headRace(name, op, budget) { (head, prev) =>
      if (txn.exists(prev.hasTxn)) Settle(head)  // lost the race to our own id's writer
      else {
        if (!replace) requireAppendable(name, partCols, prev, raced = true)
        gate(prev.checks)(check(_, prev))
        publishAt(wholeManifest(prev, replace, partCols, extra, txn, entries,
          newSchema(entries)))
      }
    }
  }

  /** A whole-file commit's manifest on `prev`: the `#partition:` header
    * and `extra` (each superseding its same-key line), the carried head
    * (whole for an append, [[replaceCarriedData]] for a replace of schema
    * `newSchema`), the `#txn:` line and the staged `entries`.
    */
  private def wholeManifest(prev: Manifest, replace: Boolean, partCols: Seq[String],
      extra: Seq[Manifest.Line], txn: Option[String], entries: Seq[Entry],
      newSchema: => Option[StructType]): Manifest = {
    val headers = (if (partCols.isEmpty) Nil else Seq(Header.partition(partCols))) ++ extra
    // a replace drops the file lines but MUST carry the txn headers —
    // applied-batch memory outlives any rewrite or compaction
    val carried = if (replace) replaceCarriedData(prev, newSchema) else prev
    Manifest(headers) ++ carried.without(headers.collect { case h: Header => h.key }: _*) ++
      txn.map(Header.txn) ++ entries
  }

  /** Replace the table with a rewrite of its own head ([[optimizeBy]],
    * [[optimizeZOrder]], the `set_partition_transforms` and
    * `materialize_mapping` procedures). Each [[headRace]] attempt lays out
    * `rows(head)` of the head it pinned, hive-partitioned by `partCols` or
    * by the hidden-partition `transforms` ([[commitTransformed]]'s layout
    * and `#ptspec:` header), as a replace ([[wholeManifest]]). So a commit
    * landing first is never erased: with a read test (`reads`) the rewrite
    * rebases over it, else it recomputes. Named and budgeted like
    * [[commitPartitioned]]'s race.
    */
  private[catalog] def rewriteHead(partCols: Seq[String] = Nil, transforms: Seq[String] = Nil,
      op: String = "replace", reads: Option[Manifest => Boolean] = None)(
      rows: Manifest => DataFrame): Long = {
    val name = if (partCols.isEmpty && transforms.isEmpty) "commit" else "commitPartitioned"
    val gate = new ConstraintGate
    var laidBy = Seq.empty[PartitionTransform]
    val v = headRace(name, op, headless = requireHead) { (_, head) =>
      val snapshot = rows(head)
      laidBy = transforms.map(parseTransform(snapshot, _))
      Publish(laidOut(snapshot, partCols, laidBy, head, name, gate), v => v, reads)
    }
    if (laidBy.nonEmpty) writePtspec(laidBy)
    v
  }

  /** The manifest replacing `head` with `rows`, laid out hive-partitioned
    * by `partCols` or by the hidden-partition transforms `laidBy`
    * ([[commitTransformed]]'s layout and `#ptspec:` header): the rows are
    * checked against `head`'s constraints through `gate`, clustered by its
    * declared clustering and staged.
    */
  private def laidOut(rows: DataFrame, partCols: Seq[String], laidBy: Seq[PartitionTransform],
      head: Manifest, name: String, gate: ConstraintGate): Manifest = {
    val (df, cols) = if (laidBy.isEmpty) (rows, partCols) else transformed(rows, laidBy)
    gate(head.checks)(enforceConstraints(df, _, name, schemaOf(head)))
    val entries = stage(clustered(df, cols, head.clustering), cols, name)
    val ptspec = if (laidBy.isEmpty) Nil else Seq(Header.ptspec(laidBy))
    wholeManifest(head, replace = true, cols, ptspec, None, entries, Some(df.schema))
  }

  /** The append layout rule of [[commitWhole]]: a flat append refuses a
    * hive-partitioned head ([[requireUnpartitioned]]); a partitioned one
    * needs the head's spec, or a head holding no data files (hive subdir
    * lines over flat lines mix directory depths). `raced` names a head
    * that moved after the write's pre-race check.
    */
  private def requireAppendable(name: String, partCols: Seq[String], m: Manifest,
      raced: Boolean): Unit =
    if (partCols.isEmpty) requireUnpartitioned(s"$name(append)", m)
    else {
      val have = m.partitionColumns
      val layout = if (have.isEmpty) "flat" else s"partitioned by $have"
      require(have == partCols || (have.isEmpty && m.data.isEmpty),
        if (raced) s"$name: head layout changed by a concurrent commit (now $layout); " +
          s"append by $partCols would mix layouts"
        else s"$name: head is $layout, append by $partCols would mix layouts " +
          "(replace=true may change the spec)")
    }

  /** The value of a version's `#<key>:` manifest header, if present. */
  def headerOf(v: Long, key: String): Option[String] = manifest(v).header(key)

  /** RESTORE (rollback): make the head's content equal an earlier
    * version's, published as a NEW commit whose manifest re-references
    * that version's pool files BY NAME — no data is copied or moved, and
    * history is preserved (the rolled-back versions stay readable and
    * time-travelable until vacuum). Because the new head references the
    * restored files, vacuum keeps them live even after it drops the old
    * manifests. The CURRENT head's lineage headers are carried forward:
    * applied-batch memory (`#txn:`) must survive a rollback exactly as it
    * survives replace and compaction (a restore that forgot it would let
    * a redelivered streaming batch double-apply), and the failover
    * generation (`#gen:`) must never move back (a pre-promotion target
    * would re-open the fence the promotion stamped on the old primary).
    * Everything else is the target's, contracts included, except its sync
    * cursor (`#repsrc:`/`#repmap:`/`#reproot:`): that is taken only while
    * the head is itself a replica, so restoring a promoted table to a
    * pre-promotion sync never turns it back into a replica.
    */
  def restore(v: Long): Long = {
    val live = committedVersions
    if (live.isEmpty) throw new java.util.NoSuchElementException(
      s"restore: empty commit log under $tableRoot")
    // fail with intent, not a raw FileNotFoundException from the manifest
    // read: a vacuumed / future / never-committed version is a caller
    // error worth naming (vacuumed versions are gone for good)
    if (!live.contains(v)) throw new IllegalArgumentException(
      s"restore: version $v is not available under $tableRoot " +
        s"(live versions: ${live.min}..${live.max} minus any vacuumed; " +
        "a vacuumed version cannot be restored)")
    // restoring the head would publish a redundant duplicate commit
    if (v == live.max) return v
    val target = manifest(v).without(Manifest.Lineage)
    headRace("restore", "restore", headless = Some(() =>
        new java.util.NoSuchElementException(s"restore: empty commit log under $tableRoot"))) {
      (_, prev) => publishAt(prev.only(Manifest.Lineage) ++
        (if (prev.has(Manifest.RepSrc)) target else target.without(Manifest.Sync)))
    }
  }

  /** Staging by layout, for every operation that writes a DataFrame:
    * write `df` once into a staging dir, hive-partitioned by `partCols`
    * when given (each part then pools under its `c=v` subdirs), and pool
    * the parts ([[poolFromStage]]). Names are computed BEFORE any version
    * race — only a manifest confers liveness, so they need not embed the
    * finally-committed version, and every retry of a publish lists the
    * same pooled names. (Computing names inside the retry loop was a real
    * bug: a writer that lost the rename race would publish a manifest
    * listing names that were never created, making that version and every
    * append chaining it unreadable — and vacuum would collect the real
    * files as orphans.)
    */
  private def stage(df: DataFrame, partCols: Seq[String], op: String): Seq[Entry] = {
    val dir = new Path(tmpDir, java.util.UUID.randomUUID().toString)
    if (partCols.isEmpty) df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
    else {
      val missing = partCols.filterNot(df.columns.contains)
      require(missing.isEmpty, s"$op: partition columns $missing not in ${df.columns.toSeq}")
      // Optimized write (opt-in): without it, EVERY writing task opens a
      // file in EVERY partition value it holds — at 1000 tasks × 1000
      // partition values that is 10^6 near-empty files per commit, the
      // classic partitioned-ingest failure. The pre-shuffle clusters rows
      // by partition value first (one exchange), collapsing the count to
      // ~one file per value. Deliberately opt-in: clustering by partition
      // value serializes each value into one task, which is the wrong
      // trade for skewed values or few-partition writes — and the default
      // keeps file counts byte-identical for existing callers.
      val toStage =
        if (spark.conf.getOption("spark.graft.optimizedWrite.enabled")
            .exists(_.toBoolean))
          df.repartition(partCols.map(c => col(s"`$c`")): _*)
        else df
      toStage.write.mode(SaveMode.Overwrite).partitionBy(partCols: _*)
        .parquet(dir.toString)
    }
    poolFromStage(dir, op, partColTypes(df, partCols))
  }

  /** `df` as one part when its rows are driver-held
    * ([[CommitLog.evaluated]]): a LocalRelation scans as up to
    * `leafNodeDefaultParallelism` slices, and [[stage]] would pool each
    * slice of a small batch as its own file.
    */
  private def onePart(df: DataFrame): DataFrame =
    if (CommitLog.isLocal(df)) df.coalesce(1) else df

  /** Pool the parquet parts of an already-written staging dir (hive
    * `c=v` subdirs included) and delete the dir — the second half of
    * [[stage]], split out so writers that produce their files through
    * other machinery (the V2 batch write behind SQL MERGE/UPDATE) share
    * the same pooling discipline. `colType` types the partition-value
    * bounds ([[partColTypes]]).
    */
  private def poolFromStage(dir: Path, op: String,
      colType: Map[String, String] = Map.empty): Seq[Entry] = {
    val dirUri = dir.toUri.getPath
    val it = hfs.listFiles(dir, true)
    val parts = scala.collection.mutable.ArrayBuffer.empty[PoolPart]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val rel = f.getPath.toUri.getPath.stripPrefix(dirUri).stripPrefix("/")
        parts += PoolPart(f.getPath, f.getLen, rel.split('/').dropRight(1).toSeq)
      }
    }
    val entries = poolParts(parts.sortBy(_.src.getName).toSeq, op, colType).map(_._2)
    hfs.delete(dir, true)
    entries
  }

  /** One parquet file headed for the pool: where it is, its length, and
    * the hive `c=v` subdirs it files under (empty for flat pools).
    */
  private case class PoolPart(src: Path, len: Long, subdirs: Seq[String] = Nil)

  /** The pooling helper every write path shares: turn `parts` into pool
    * entries, in order. One footer read per part yields BOTH the row
    * count and the stats; zero-row parts (Spark writes a schema-only file
    * for an empty first partition of union/anti-join plans, and external
    * writers hand over empty files) are dropped before numbering — they
    * would pollute every future manifest as stats-less, never-prunable
    * entries. Each survivor moves (or, with `copy`, is copied
    * byte-identical) to `data/[<subdirs>/]<uuid8>-partNNNNN.parquet`, and
    * its entry carries the footer stats plus an exact min=max bound per
    * partition value ([[partValueStats]]), so one conjunctive test serves
    * both pruning tiers. The uuid keeps racing writers' files apart.
    * The same footer read gives the schema Spark's inference takes from
    * it, which the footer-schema memo records under the pooled name
    * ([[footerSchema]]).
    * Returns each pooled part with its entry.
    */
  private def poolParts(parts: Seq[PoolPart], op: String,
      colType: Map[String, String] = Map.empty,
      copy: Boolean = false): Seq[(PoolPart, Entry)] = {
    val conv = GraftSqlShim.footerConversion(spark)
    val live = parts.map(p => (p, footerInfo(p.src, conv))).filter(_._2._1 > 0)
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    hfs.mkdirs(dataDir)
    live.zipWithIndex.map { case ((p, (rows, st, schema)), i) =>
      val name = (p.subdirs :+ f"$uuid-part$i%05d.parquet").mkString("/")
      val dst = new Path(dataDir, name)
      if (p.subdirs.nonEmpty) hfs.mkdirs(dst.getParent)
      val landed =
        if (copy) org.apache.hadoop.fs.FileUtil.copy(HadoopFs.fs(spark, p.src.toString),
          p.src, hfs, dst, false, hfs.getConf)
        else hfs.rename(p.src, dst)
      if (!landed) throw new java.io.IOException(
        s"$op: could not ${if (copy) "copy" else "move"} ${p.src} into the pool")
      CommitLog.memoizeFooterSchema((new Path(qualifiedDataDir, name).toString, p.len, conv),
        schema)
      p -> Entry.pooled(name, st ++ partValueStats(p.subdirs, colType), rows, p.len)
    }
  }

  /** Hive %xx escape decoding for partition-dir values (Spark escapes
    * path-hostile chars when writing `c=v` dirs; `+` is NOT a space in
    * this dialect, so URLDecoder would mistranslate).
    */
  private def unescapePathValue(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try { out.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Exact per-file stats from a hive partition subpath (`c1=v1/c2=v2`):
    * each value is its own min=max bound, so partition pruning rides the
    * ordinary stats test. The stats TYPE comes from the writer's schema
    * (`colType`), never from the value's lexical shape: a STRING column
    * holding digit-only values ("2") must keep lexicographic bounds, or
    * range pruning disagrees with the row filter ("2" BETWEEN "10" AND
    * "30" lexically, yet numeric pruning would skip the file — silently
    * missing rows; mixed values would even crash the numeric parse). A
    * `__HIVE_DEFAULT_PARTITION__` (null) value yields no bound — the
    * file simply stays unprunable on that column, conservative as ever.
    */
  private def partValueStats(subdirs: Seq[String],
      colType: Map[String, String]): Map[String, ColStats] =
    subdirs.flatMap { seg =>
      seg.split("=", 2) match {
        case Array(c, raw) if raw != "__HIVE_DEFAULT_PARTITION__" =>
          val v = unescapePathValue(raw)
          Some(c -> ColStats(colType.getOrElse(c, "string"), v, v))
        case _ => None
      }
    }.toMap

  /** Manifest stats tag for a partition column's Catalyst type: integral
    * → "long", fractional/decimal → "double", everything else (string,
    * date, timestamp — ISO renderings order lexically) → "string".
    */
  private def partColTypes(df: DataFrame,
      partitionCols: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.types._
    partitionCols.map { c =>
      c -> (df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => "long"
        case FloatType | DoubleType | _: DecimalType       => "double"
        case _                                             => "string"
      })
    }.toMap
  }

  /** Commit `df` hive-partitioned by `partitionCols` as the next version
    * (the partitioned twin of [[commit]]). Appends require the head's
    * partition spec to match; a replace may change it. The spec rides
    * the manifest as a `#partition:` header, carried across appends and
    * MoR deletes. The CoW mutators ([[merge]]/[[deleteKeys]]/
    * [[rewriteWhere]]) are all partition-aware — touched files restage
    * under their subdirs, untouched files carry by name; the delete
    * TIER of choice on partitioned tables remains MoR
    * ([[deleteWhereMoR]], O(rows)) with [[rewriteDeletes]] as the
    * partition-aware fold. Only flat APPENDS refuse
    * ([[requireUnpartitioned]]) — mixing layouts is a correctness
    * error. An empty `partitionCols` is the flat [[commit]]. An
    * `extraHeader` line (e.g. `#ptspec:`) supersedes its same-key line
    * and rides the same atomic publish as the data it describes.
    */
  def commitPartitioned(df: DataFrame, partitionCols: Seq[String],
      replace: Boolean, txn: Option[String] = None,
      op: Option[String] = None,
      extraHeader: Option[String] = None): Long = {
    val name = if (partitionCols.isEmpty) "commit" else "commitPartitioned"
    commitWhole(name, op.getOrElse(if (replace) "replace" else "append"), replace,
        partitionCols, txn, extraHeader.map(Manifest.parseLine).toSeq)(
      (cs, m) => enforceConstraints(df, cs, name, schemaOf(m)),
      declared => stage(clustered(df, partitionCols, declared), partitionCols, name),
      _ => Some(df.schema))
  }

  /** Commit EXPLICITLY NAMED staged parquet files (not a whole staging
    * dir) as the next version, with optional txn dedup — the streaming
    * sink's entry point: only files named by task COMMIT messages pool,
    * so a speculative or failed attempt's orphan in the same epoch dir
    * can never leak into the table (it ages out under vacuum's
    * in-flight guard instead). A txn id already on the head makes the
    * whole call a no-op returning the head — epoch redelivery inserts
    * nothing twice. An empty `paths` with `replace=true` is a legal
    * truncate-to-empty (Complete-mode epoch with no rows).
    */
  private[catalog] def commitPooledFiles(paths: Seq[Path], replace: Boolean,
      txn: Option[String]): Long = {
    if (paths.isEmpty && !replace) return currentVersion.getOrElse(0L)
    lazy val parts = paths.sortBy(_.getName).map(p => PoolPart(p, hfs.getFileStatus(p).getLen))
    // the batch is validated where it lies: in the writer's stage dir until
    // it pools (a rejected epoch's files stay there and age out), then in
    // the pool
    var pooled: Option[Seq[(Path, Long)]] = None
    commitWhole("commitPooledFiles", if (replace) "replace" else "append", replace,
        txn = txn)(
      (cs, m) => enforceConstraintsOnPaths(pooled.getOrElse(parts.map(p => (p.src, p.len))),
        cs, "commitPooledFiles", schemaOf(m)),
      _ => {
        val entries = poolParts(parts, "commitPooledFiles").map(_._2)
        pooled = Some(entries.map(pooledFile))
        entries
      },
      firstFileSchema)
  }

  /** The footer schema of the first data file among pooled `entries`: a
    * file-based replace's `newSchema` ([[commitWhole]]).
    */
  private def firstFileSchema(entries: Seq[Entry]): Option[StructType] =
    entries.find(!_.dv).map(pooledFile).map(f => parquetOf(Seq(f)).parquet(f._1.toString).schema)

  /** Import externally-produced parquet files WITH row-level deletes in
    * ONE atomic commit: each source file pools byte-identical under a
    * fresh name, and its deleted row indices land as native MoR
    * `(file, pos)` tombstones in the SAME manifest — the commit-log
    * spelling of an imported format's deletion vectors (Delta DVs map
    * here 1:1, [[DeltaInterop.importDelta]]). No data file is decoded
    * or rewritten: cost is O(bytes copied) + O(rows deleted), vs. the
    * O(table) re-encode a materializing import pays — and no
    * intermediate version ever shows the deleted rows resurrected.
    * Reads apply the tombstones exactly as [[deleteWhereMoR]]'s
    * ([[readFiles]] anti-join); [[rewriteDeletes]]/[[compact]] fold
    * them away later. Zero-row source files are skipped (with their
    * deletes) like every other pooling path.
    */
  def commitFilesWithDeletes(srcs: Seq[(Path, Seq[Long])], replace: Boolean): Long = {
    import spark.implicits._
    val pairs = srcs.flatMap { case (p, dels) =>
      dels.map(x => (p.toUri.getPath, x))
    }
    commitCopiedWithTombstones(srcs.map(_._1),
      if (pairs.isEmpty) None else Some(pairs.toDF("_graft_src", "_graft_del_pos")),
      replace)
  }

  /** Core of the tombstone-carrying import: pool `srcs` byte-identical
    * and map `tombs` — rows of `(_graft_src: scheme-stripped source
    * path, _graft_del_pos: row index)` — through the copy's name
    * assignment into native MoR tombstones, staged DISTRIBUTED in the
    * same atomic publish. The DataFrame shape is what lets an imported
    * format's delete files (Iceberg position deletes can be
    * arbitrarily large) flow executor-side; only the file-name mapping
    * (one row per file) is driver-resident and broadcast.
    */
  private[graft] def commitCopiedWithTombstones(srcs: Seq[Path],
      tombs: Option[DataFrame], replace: Boolean): Long = {
    require(srcs.nonEmpty, "commitCopiedWithTombstones: no source files")
    import spark.implicits._
    // CHECK constraints validate the LIVE rows of the import — tombstoned
    // rows never surface, so a deleted violator cannot fail the batch.
    // Validation reads the SOURCE files, before the copy.
    def liveRows: DataFrame = {
      val base = spark.read.option("mergeSchema", "true")
        .parquet(srcs.map(_.toString): _*)
      tombs match {
        case None => base
        case Some(t) =>
          base
            .withColumn("_graft_src", org.apache.spark.sql.functions
              .regexp_replace(col("_metadata.file_path"),
                HadoopFs.UriPrefixRx, ""))
            .withColumn("_graft_del_pos", col("_metadata.row_index"))
            .join(t.select(col("_graft_src"),
              col("_graft_del_pos").cast("long").as("_graft_del_pos")),
              Seq("_graft_src", "_graft_del_pos"), "left_anti")
            .drop("_graft_src", "_graft_del_pos")
      }
    }
    commitWhole("commitCopiedWithTombstones", "import", replace)(
      (cs, m) => if (cs.nonEmpty) enforceConstraints(liveRows, cs,
        "commitCopiedWithTombstones", schemaOf(m)),
      _ => {
        val pooled = poolParts(srcs.map(p =>
          PoolPart(p, HadoopFs.fs(spark, p.toString).getFileStatus(p).getLen)),
          "commitCopiedWithTombstones", copy = true)
        val tombEntries = tombs match {
          case None => Seq.empty
          case Some(t) =>
            val mapDf = pooled.map { case (p, e) => (p.src.toUri.getPath, e.name) }
              .toDF("_graft_src", DvKeys.head)
            val keyed = t
              .join(org.apache.spark.sql.functions.broadcast(mapDf), Seq("_graft_src"))
              .select(col(DvKeys.head),
                col("_graft_del_pos").cast("long").as(DvKeys.last))
            stage(keyed, Nil, "importDeletes").map(_.asDv)
        }
        pooled.map(_._2) ++ tombEntries
      },
      firstFileSchema)
  }

  /** Incremental physical replication from `src` (this log is the
    * replica): copy ONLY the pool files the replica does not already
    * hold, then publish the source head's manifest as the replica's
    * next version carrying a `#repsrc:<srcVersion>` cursor header. Pool
    * names are uuid-unique and files immutable, so presence-by-name IS
    * the diff — a sync ships O(changed bytes + changed files), never
    * O(table): carried files are already in the replica's pool from
    * earlier syncs, and the cursor short-circuits an in-sync pair to a
    * metadata read. Manifest semantics (partition headers, MoR
    * tombstone lines, txn memory, per-file stats) carry verbatim, so
    * the replica is byte-equivalent, layout included. Absolute pool
    * references (shallow clones) are localized: the file copies into
    * the replica's own pool and the line rewrites to the relative name,
    * so a replica never depends on the primary region's storage. A
    * partial copy (crash, or the primary vacuuming a superseded file
    * mid-sync) is self-healing — nothing publishes until every
    * referenced file is present, and the next sync re-copies only
    * what's missing. Returns the new replica version, or None when
    * already in sync.
    */
  def replicateFrom(src: CommitLog): Option[Long] = {
    val head = src.currentVersion.getOrElse(return None)
    val cursor = currentVersion.flatMap(v => manifest(v).syncedVersion)
    if (cursor.contains(head)) return None
    val srcManifest = src.manifest(head)
    // a FENCED source is a superseded primary: its lineage forked from
    // the promoted table's the moment the fence landed, so syncing from
    // it would propagate exactly the split-brain the fence exists to
    // stop. A source AT the fenced generation is fine — that's a
    // resynced replica legitimately serving a cascade.
    src.fenceEpoch.foreach { e =>
      require(srcManifest.generation >= e,
        s"replicateFrom: the replication source is FENCED at epoch $e " +
          s"(its head carries generation ${srcManifest.generation}) — a promoted " +
          "replica superseded it during failover; sync from the promoted " +
          "table instead")
    }
    hfs.mkdirs(dataDir)
    hfs.mkdirs(commitsDir)
    val localized = srcManifest.mapEntries { e =>
      val local = if (e.absolute) leafOf(e.name) else e.name
      val dst = new Path(dataDir, local)
      if (!hfs.exists(dst)) {
        val sp = if (e.absolute) new Path(e.name) else new Path(src.dataDir, e.name)
        if (local.contains('/')) hfs.mkdirs(dst.getParent)
        if (!org.apache.hadoop.fs.FileUtil.copy(src.hfs, sp, hfs, dst, false,
            hfs.getConf))
          throw new java.io.IOException(s"replicateFrom: copy of ${e.name} failed")
      }
      e.copy(name = local)
    }
    // a transform-partitioned source's layout declaration rides along —
    // without it the replica would EXPOSE the hidden `_p_*` columns and
    // lose its transform pruning
    val srcTransforms = src.tableMeta.transforms
    if (srcTransforms.nonEmpty) writePtspec(srcTransforms)
    // beside the cursor, record WHICH source versions this sync folds
    // (`#repmap:<lo>-<hi>`) and the source's canonical identity
    // (`#reproot:`): the translation table a failed-over streaming
    // consumer re-anchors its primary-version checkpoint through
    // ([[translateSourceOffset]])
    val synced = Manifest(Seq(Header.repsrc(head),
      Header.repmap(cursor.getOrElse(0L) + 1, head),
      Header.reproot(src.tableQualifiedRoot))) ++ localized.without(Manifest.Sync)
    headRace("replicateFrom", "replicate") { (_, _) => Publish(synced, Some(_)) }
  }

  // ---- replica promotion & generation fencing ------------------------------

  // a root file, not a manifest header: the fence must hold for this root
  // at every version, including versions published after it landed
  private val fenceFile = new Path(tableRoot, "_fence.json")

  /** Head failover generation (`#gen:` header): bumped by every
    * [[promote]], 0 for tables that never took part in a failover. The
    * generation is the fencing token — see [[fenceEpoch]].
    */
  def generation: Long =
    currentVersion.map(v => manifest(v).generation).getOrElse(0L)

  /** The fence epoch stamped at this root (`_fence.json`), if any: a
    * durable mark that a REPLICA of this table was promoted at that
    * generation, superseding this root as the writable copy. Every
    * publish whose manifest generation does not clear the fence is
    * refused loudly (see [[promote]] for the full failover story).
    * Written atomically and read fresh per publish; an unreadable fence
    * fails LOUD — it is a safety device, never best-effort on the read
    * side.
    */
  def fenceEpoch: Option[Long] =
    if (!hfs.exists(fenceFile)) None
    else {
      val body = LogStore.readString(hfs, fenceFile)
      org.json4s.jackson.JsonMethods.parse(body) \ "epoch" match {
        case org.json4s.JInt(e)  => Some(e.toLong)
        case org.json4s.JLong(e) => Some(e)
        case _ => throw new IllegalStateException(
          s"fenceEpoch: unparseable _fence.json under $tableRoot: $body")
      }
    }

  /** Stamp (or raise) the fence at this root — called by the PROMOTED
    * side against its old primary, or by an operator when the lost
    * region rejoins. Monotone: a lower epoch never overwrites a higher
    * one (replayed promotions are idempotent).
    */
  private[graft] def writeFence(epoch: Long, by: String): Unit = {
    if (fenceEpoch.exists(_ >= epoch)) return
    import org.json4s.JsonDSL._
    LogStore.writeAtomic(hfs, fenceFile,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(
          ("epoch" -> epoch) ~ ("by" -> by)))
        .getBytes(StandardCharsets.UTF_8))
  }

  /** The publish-time fence gate: a manifest clears the fence only when
    * its generation proves it descends from (or IS) the promoted
    * lineage — a `replicate` sync at-or-above the fence epoch (reverse
    * resync from the promoted table), or any publish STRICTLY above it
    * (a new promotion of this root). Everything else — in particular an
    * ordinary commit from a rejoined stale primary, or a direct write
    * to a resynced replica — bounces loudly instead of forking history.
    */
  private def enforceFence(m: Manifest): Unit =
    fenceEpoch.foreach { e =>
      val g = m.generation
      val ok = if (m.op.contains("replicate")) g >= e else g > e
      if (!ok) throw new IllegalStateException(
        s"publish: table under $tableRoot is FENCED at epoch $e (this " +
          s"manifest carries generation $g) — a replica was promoted and " +
          "owns the write path now. Writes here would fork a lineage the " +
          "promoted table never sees. Write to the promoted table; or " +
          "re-register this root as a replica (replicateFrom the promoted " +
          "table clears the fence at its generation); or promote THIS root " +
          "to take ownership back.")
    }

  /** PROMOTE this replica to a writable primary — the failover the
    * dual-region posture exists for (the reference declares a primary
    * and a secondary region, config/globalConfig.json:4-5; promotion is
    * what makes the secondary matter when the primary region is lost):
    *
    *  1. drop the `#repsrc:` cursor — the table stops being a sync
    *     target and every mutation surface accepts writes;
    *  2. bump the GENERATION (`#gen:` header, monotone across
    *     failovers) — the fencing token all later publishes carry;
    *  3. best-effort FENCE the old primary's root (`_fence.json` at the
    *     new generation): from the moment the fence is visible, the
    *     stale primary refuses commits AND refuses to serve as a
    *     replication source, so split-brain writes are impossible. The
    *     fence write is best-effort BY DESIGN — the old region being
    *     unreachable is WHY we are failing over; promotion must never
    *     depend on it. `fenced=false` in the result tells the operator
    *     to stamp the fence when the region rejoins
    *     ([[writeFence]] via `CALL graft.system.promote_replica` on
    *     rejoin is idempotent).
    *
    * Reverse resync when the region returns: re-register the old
    * primary as a replica — `replicateFrom(promoted)` clears its fence
    * check (the synced manifest carries the promoted generation) and
    * reaches parity incrementally; promoting IT back bumps the
    * generation again and fences the other side — generations only ever
    * grow, so every root always knows which lineage is current.
    *
    * DOCUMENTED LIMIT — the fence arbitrates PRIMARY-vs-REPLICA, not
    * replica-vs-replica: concurrently promoting TWO replicas of one
    * lost primary yields two writable generation-1 lineages, because
    * with the primary region gone there is no shared coordination
    * point to arbitrate through (the classic multi-region consensus
    * gap; no table format solves it storage-side). The runbook
    * discipline is one promotion target per failover; a losing replica
    * is retired by fencing it explicitly ([[writeFence]] at the
    * winner's generation) or re-registering it as a replica of the
    * winner.
    *
    * Returns (promotedVersion, generation, oldPrimaryFenced).
    */
  def promote(fenceOldPrimary: Option[CommitLog] = None): (Long, Long, Boolean) =
    headRace("promote", "promote", headless = Some(() =>
        new IllegalStateException(s"promote: no committed version under $tableRoot"))) {
      (_, head) =>
        require(head.has(Manifest.RepSrc),
          s"promote: table under $tableRoot carries no #repsrc cursor — it " +
            "is not a replica (already writable); promotion is a " +
            "replica-only operation")
        val newGen = math.max(head.generation, fenceEpoch.getOrElse(0L)) + 1
        // the promote commit sheds the sync bookkeeping (#repsrc cursor,
        // #repmap window, #reproot provenance) — the HISTORY manifests
        // keep every sync's repmap, which is what offset translation walks
        Publish(head.without(Manifest.Sync).set(Header.gen(newGen)), v => {
          val fenced = fenceOldPrimary.exists { old =>
            try { old.writeFence(newGen, tableRoot); true }
            catch { case scala.util.control.NonFatal(_) => false }
          }
          (v, newGen, fenced)
        })
    }

  /** Re-anchor a streaming checkpoint across a failover: map an offset
    * recorded against this table's REPLICATION SOURCE (`srcRoot`,
    * checkpointed source version `srcVersion`) onto THIS table's own
    * version numbering. Each [[replicateFrom]] sync commit records the
    * source-version window it folds (`#repmap:<lo>-<hi>`) and the
    * source's canonical identity (`#reproot:`); a checkpoint sitting
    * exactly on a sync boundary (`srcVersion == hi` of some sync, or 0)
    * translates EXACTLY — the local sync version's file set is
    * byte-equivalent to the source's at that version, so the consumer
    * resumes with no duplicates and no gaps. Anything else fails LOUDLY
    * with the operator instruction, never silently re-reads:
    *  - a checkpoint INSIDE a fold window (the sync coalesced versions
    *    `lo..hi` into one local commit) cannot resume exactly;
    *  - a checkpoint AHEAD of the last synced version names data the
    *    replica never received (the failover's RPO window);
    *  - a root this table never synced from is not translatable at all.
    *
    * Cost: one manifest read per local version, once per stream restart
    * — O(local commits), no data I/O. (Consumers reach this through
    * [[GraftVersionOffset]]: offsets self-describe their root, so simply
    * re-pointing a `readStream.table` / `.changes` query at the promoted
    * table with the SAME checkpoint triggers the translation.)
    */
  private[graft] def translateSourceOffset(srcRoot: String, srcVersion: Long): Long = {
    if (srcVersion <= 0L) return 0L
    def norm(s: String): String = {
      val p = new Path(s)
      val q = if (p.toUri.getScheme == null) hfs.makeQualified(p) else p
      q.toString.stripSuffix("/")
    }
    val want = norm(srcRoot)
    val head = currentVersion.getOrElse(0L)
    var maxHi = 0L
    var sawSource = false
    var fold: Option[(Long, Long, Long)] = None
    var v = 1L
    while (v <= head) {
      val m = manifest(v)
      m.syncWindow.foreach { case (lo, hi) =>
        if (m.syncRoot.forall(r => norm(r.trim) == want)) {
          sawSource = true
          if (hi > maxHi) maxHi = hi
          if (srcVersion == hi) return v
          if (srcVersion >= lo && srcVersion < hi && fold.isEmpty)
            fold = Some((v, lo, hi))
        }
      }
      v += 1
    }
    fold match {
      case Some((lv, lo, hi)) => throw new IllegalStateException(
        s"translateSourceOffset: the checkpoint sits at source version " +
          s"$srcVersion of $want, INSIDE the window $lo-$hi that this " +
          s"table's sync commit $lv folded into one local version — the " +
          "replica cannot resume exactly there. Restart the consumer with " +
          "a fresh checkpoint to re-load from this table's current " +
          "snapshot (rows emitted before the failover will re-emit), or " +
          s"rewind the checkpoint to the sync boundary $hi's upstream " +
          "offset if the sink is idempotent.")
      case None if !sawSource => throw new IllegalStateException(
        s"translateSourceOffset: table under $tableRoot carries no " +
          s"replication sync from $want — this checkpoint belongs to a " +
          "different lineage. Point the consumer at a replica of that " +
          "table, or restart with a fresh checkpoint.")
      case None => throw new IllegalStateException(
        s"translateSourceOffset: the checkpoint sits at source version " +
          s"$srcVersion of $want, AHEAD of the last version this table " +
          s"synced ($maxHi) — the failover lost that window (RPO > 0). " +
          "Restart the consumer with a fresh checkpoint to re-load from " +
          "this table's current snapshot, and reconcile the sink for the " +
          s"un-replicated source versions ${maxHi + 1}-$srcVersion.")
    }
  }

  /** The copy-on-write mutators stage FLAT pool files; on a partitioned
    * head that would mix directory depths under `data/` and break
    * partition inference. They refuse loudly instead of corrupting the
    * layout — the partitioned delete tier is [[deleteWhereMoR]] /
    * [[deleteKeysMoR]] + [[rewriteDeletes]].
    */
  private def requireUnpartitioned(op: String, m: Manifest): Unit =
    require(m.partitionColumns.isEmpty,
      s"$op: table under $tableRoot is hive-partitioned; use the MoR delete " +
        "tier (deleteWhereMoR/deleteKeysMoR + rewriteDeletes) or rebuild with " +
        "commitPartitioned(replace = true)")

  /** Fresh staging directory under the table's `_tmp` for an external
    * writer (the SQL row-level-operation write stages here, then commits
    * via [[commitRowLevel]]). Unreferenced leftovers from crashed writers
    * age out under vacuum's in-flight guard like any orphan.
    */
  def newStageDir(tag: String): String =
    new Path(tmpDir, s"$tag-${java.util.UUID.randomUUID().toString}").toString

  /** Append the parquet files previously written into `stageDir` (via
    * [[newStageDir]]) as the next commit.
    */
  def commitStaged(stageDir: String): Long = {
    val newEntries = poolFromStage(new Path(stageDir), "commitStaged")
    val newPaths = newEntries.map(pooledFile)
    commitWhole("commitStaged", "append", replace = false)(
      (cs, m) => enforceConstraintsOnPaths(newPaths, cs, "commitStaged", schemaOf(m)),
      _ => newEntries, _ => None)
  }

  /** The commit of a SQL row-level rewrite (`UPDATE`, `MERGE INTO`, a
    * `DELETE` no filter serves): the rows staged under `stageDir` replace
    * version `scanned`, the one the statement's scan read. A flat table
    * pools the staged files; a hive or transform layout re-stages their
    * rows under it ([[laidOut]]). An empty stage truncates to empty.
    * Constraints are checked once, against `scanned`. Past `scanned` the
    * replace lands by [[headRace]] step 4 with the read test "holds any
    * data" (the scan read every file, under a condition the table never
    * sees), else the statement fails; it is never republished.
    */
  private[catalog] def commitRowLevel(stageDir: String, scanned: Long): Long = {
    val name = "commitRowLevel"
    val base = manifest(scanned)
    val partCols = tableMeta.partCols
    val laidBy = if (partCols.isEmpty) transformsFor(base) else Nil
    val dir = new Path(stageDir)
    val replace =
      if (partCols.isEmpty && laidBy.isEmpty) {
        val entries = poolFromStage(dir, name)
        enforceConstraintsOnPaths(entries.map(pooledFile), base.checks, name, schemaOf(base))
        // the table keeps its shape, so its evolved schema of record too
        wholeManifest(base, replace = true, Nil, Nil, None, entries, None)
      } else {
        val staged = hfs.exists(dir) && hfs.listStatus(dir)
          .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        // `readManifest`, not `read()`: a transform layout keeps its derived columns
        val rows = if (staged) spark.read.parquet(stageDir) else readManifest(base).where(lit(false))
        try laidOut(rows, partCols, laidBy, base, name, new ConstraintGate)
        finally hfs.delete(dir, true)
      }
    val p = Publish[Long](replace, v => v, Some(_.data.nonEmpty))
    headRace(name, "replace") { (head, m) =>
      if (head == scanned) p
      else rebased(base, m, p).getOrElse(throw new java.io.IOException(
        s"$name: $tableRoot changed since the statement read v$scanned (now v$head) " +
          "in a way that conflicts with it; re-run it"))
    }
  }

  /** Zero-copy SHALLOW CLONE: publish this (empty) table's v1 as a
    * manifest whose file lines reference the SOURCE's pool files by
    * ABSOLUTE path, stats tags carried verbatim — no data moves, the
    * clone costs one manifest write regardless of table size (the
    * experiment-branch primitive at 100 TB). Absolute names resolve at
    * every read site because `Path(parent, child)` yields the child
    * when the child is absolute; the clone's own writers pool into its
    * OWN data dir, so the clone diverges naturally — a keyed CoW merge
    * rewrites a touched source file into the clone's pool and carries
    * the rest by absolute name, and [[compact]] is the full
    * materializer (after it, no line references the source). Vacuum on
    * the CLONE never touches source files (it walks only its own pool);
    * vacuum on the SOURCE is clone-aware — cloning registers an atomic
    * marker under each referenced root's `_clones/`, and [[vacuum]]
    * keeps files any registered clone's retained versions still
    * reference ([[cloneLiveNames]]) — so a source vacuum cannot break a
    * live branch (the caveat the Delta/Iceberg shallow-clone contracts
    * leave open). Markers self-clean once the branch is dropped or
    * fully materialized (compact + branch vacuum).
    *
    * Refusals: a hive-partitioned source (partition rehydration needs a
    * single `basePath`, which absolute cross-root names break — CTAS /
    * INSERT OVERWRITE materializes instead) and a source carrying MoR
    * tombstones (fold with `rewrite_deletes` first; cloning DV lines
    * would alias tombstones across roots). The clone target must be
    * uncommitted.
    */
  def cloneFrom(srcRoot: String, versionAsOf: Option[Long] = None): Long = {
    require(currentVersion.isEmpty,
      s"cloneFrom: target $tableRoot already has commits")
    val src = new CommitLog(spark, srcRoot)
    // time-travel clone: branch off any RETAINED source version — the
    // clone pins that snapshot's files, immune to later source commits
    val v = versionAsOf.getOrElse(
      src.currentVersion.getOrElse(throw new java.io.FileNotFoundException(
        s"cloneFrom: no committed version under $srcRoot")))
    require(src.committedVersions.contains(v),
      s"cloneFrom: version $v is not retained under $srcRoot " +
        s"(have: ${src.committedVersions.sorted.mkString(", ")})")
    require(src.partitionColumns(v).isEmpty,
      s"cloneFrom: $srcRoot is hive-partitioned; shallow clone cannot span " +
        "partition roots — materialize with CTAS / INSERT OVERWRITE")
    require(src.dvFiles(v).isEmpty,
      s"cloneFrom: $srcRoot carries merge-on-read deletion vectors; fold " +
        "them first: CALL <catalog>.system.rewrite_deletes")
    val srcData = new Path(srcRoot, "data")
    val srcManifest = src.manifest(v)
    val absEntries = srcManifest.data.map(e => e.copy(name = new Path(srcData, e.name).toString))
    // register this clone at EVERY root it references (clone-of-clone
    // lines can point past the immediate source at the original pool),
    // so those roots' vacuums keep referenced files live — one atomic
    // marker file per (root, clone), no shared mutable registry.
    // Markers land BEFORE the manifest publishes: a crash in between
    // leaves an unreferenced marker that self-cleans on the source's
    // next vacuum, whereas the reverse order would leave a published,
    // readable clone that one source vacuum permanently breaks.
    absEntries.iterator.flatMap(e => dataRootOf(e.name))
      .map(r => r.stripSuffix("/data")).toSet[String]
      .foreach(registerCloneAt(_, tableRoot))
    // the contracts FORK with the data: CHECK constraints, clustering,
    // TTL policy, the evolved schema of record, and the transform spec
    // all describe the snapshot being cloned — dropping them would hand
    // back a clone that accepts rows the source refuses, loses a
    // library-evolved column from its schema, or exposes a transform
    // layout's hidden `_p_*` columns. Lineage is NOT carried: the clone
    // is a new table; streams writing to it start their own exactly-once
    // ledger. The provenance header (inert to every reader) names the
    // branch point.
    val cloned = Header.cloned(srcRoot, v) +:
      (srcManifest.only(Manifest.Contracts) ++ absEntries)
    // single-shot, not a headRace: a clone must be v1, so a lost race has no retry
    if (!publish(1, cloned.set(Header.op("clone")))) throw new java.io.IOException(
      s"cloneFrom: lost the v1 race under $tableRoot")
    // a concurrent source vacuum may have dropped a time-travel target
    // version while this clone was in flight (the head always survives
    // keepVersions >= 1); fail loudly rather than hand back a branch
    // whose files may already be collected
    if (!src.committedVersions.contains(v)) throw new java.io.IOException(
      s"cloneFrom: source version $v of $srcRoot was vacuumed mid-clone; " +
        "the branch may reference collected files — re-clone from a retained version")
    1L
  }

  /** Data-dir root of an absolute pool reference (None for this table's
    * own relative names): the path up to and including its `/data`
    * segment. Partition values escape `/` (%2F), so the LAST `/data/`
    * is unambiguous.
    */
  private def dataRootOf(n: String): Option[String] =
    if (!Manifest.isAbsoluteName(n)) None
    else {
      val i = n.lastIndexOf("/data/")
      if (i < 0) None else Some(n.substring(0, i + 5))
    }

  /** Drop an atomic clone marker under `srcRoot/_clones/` naming
    * `cloneRoot` — the registry [[vacuum]] consults to keep files a
    * live clone still references out of the dead set. One file per
    * clone, create-only: concurrent clones never contend.
    */
  private def registerCloneAt(srcRoot: String, cloneRoot: String): Unit = {
    val dir = new Path(srcRoot, "_clones")
    hfs.mkdirs(dir)
    val name = java.net.URLEncoder.encode(cloneRoot, "UTF-8")
    val marker = new Path(dir, name)
    if (!hfs.exists(marker))
      LogStore.write(hfs, marker, cloneRoot.getBytes("UTF-8"))
  }

  /** Relative names of THIS table's pool files still referenced by ANY
    * retained version of a registered clone (not just its head — the
    * clone's own time travel must survive a source vacuum). Markers
    * whose clone root has vanished (branch dropped) or no longer
    * references this table anywhere (materialized via compact, old
    * versions vacuumed) are deregistered on the way — the registry is
    * self-cleaning, O(live clones × their retained versions) manifest
    * reads, all driver-side metadata.
    */
  private def cloneLiveNames(markerCleanCutoff: Long): Set[String] = {
    val dir = new Path(tableRoot, "_clones")
    if (!hfs.exists(dir)) return Set.empty
    // scheme-insensitive comparison: a clone spelled "file:/wh/t" and a
    // vacuum constructed with "/wh/t" are the same table — raw string
    // prefix would silently deregister a live branch
    val myData = dataDir.toUri.getPath
    val live = scala.collection.mutable.Set.empty[String]
    hfs.listStatus(dir).foreach { m =>
      val cloneRoot = java.net.URLDecoder.decode(m.getPath.getName, "UTF-8")
      val clone = new CommitLog(spark, cloneRoot)
      val refs = clone.committedVersions.flatMap(clone.manifest(_).dataNames)
        .filter(Manifest.isAbsoluteName)
        .map(n => new Path(n).toUri.getPath)
        .filter(_.startsWith(myData + "/"))
        .map(_.stripPrefix(myData + "/"))
      // a marker with no references is stale (dropped or materialized
      // branch) — UNLESS it is young: cloneFrom registers BEFORE its v1
      // publishes, so an in-flight clone's marker must survive the scan
      // (same in-flight guard as the pool-file collection)
      if (refs.isEmpty) {
        if (m.getModificationTime <= markerCleanCutoff)
          hfs.delete(m.getPath, false): Unit
      } else live ++= refs
    }
    live.toSet
  }

  // ---- hidden partition transforms -----------------------------------------
  //
  // Iceberg-style hidden partitioning on the commit log: a declared
  // transform (`#ptspec:` header) derives a `_p_*` hive partition
  // column at write time, [[read]] hides it, and [[readWhere]] prunes
  // FILES from predicates on the SOURCE column — the user never knows
  // the layout exists. Pruning rides the manifest's per-file stats
  // (partition values land as exact min=max bounds at stage time), so
  // it is pure driver-side metadata: zero file opens for skipped files.

  private val TransformRe = "^\\s*([A-Za-z]+)\\s*\\(([^)]*)\\)\\s*$".r

  /** Parse `"days(ts)"` / `"bucket(8, k)"` / `"truncate(4, name)"`
    * against a schema (the source type is recorded so probes cast
    * literals exactly as the write derived).
    */
  private def parseTransform(df: DataFrame, s: String): PartitionTransform =
    parseTransformOn(df.schema, s)

  private[catalog] def parseTransformOn(schema: org.apache.spark.sql.types.StructType,
      s: String): PartitionTransform =
    s match {
      case TransformRe(kind0, args) =>
        val kind = kind0.toLowerCase(java.util.Locale.ROOT).stripSuffix("s")
        val parts = args.split(",").map(_.trim).filter(_.nonEmpty)
        def typed(src: String): String = {
          require(schema.fieldNames.contains(src),
            s"partition transform '$s': no column '$src' in ${schema.fieldNames.toSeq}")
          schema(src).dataType.sql
        }
        kind match {
          case "year" | "month" | "day" | "hour" =>
            require(parts.length == 1, s"$kind takes one column, got '$s'")
            val t = PartitionTransform(kind, parts(0), typed(parts(0)), 0L)
            require(Set("DATE", "TIMESTAMP", "TIMESTAMP_NTZ")(t.srcType.toUpperCase),
              s"$kind needs a date/timestamp column; '${t.src}' is ${t.srcType}")
            t
          case "bucket" | "truncate" =>
            require(parts.length == 2 && parts(0).forall(_.isDigit) &&
              parts(0).toLong > 0,
              s"$kind takes (positive count, column), got '$s'")
            PartitionTransform(kind, parts(1), typed(parts(1)), parts(0).toLong)
          case other => throw new IllegalArgumentException(
            s"unknown partition transform '$other' in '$s' " +
              "(have: years months days hours bucket truncate)")
        }
      case _ => throw new IllegalArgumentException(
        s"cannot parse partition transform '$s' (want kind(args))")
    }

  /** Declared hidden-partition transforms, empty when the table is not
    * transform-partitioned.
    *
    * The spec of record is the HEAD MANIFEST's `#ptspec:` header — it
    * lands in the same atomic publish as the (re-)laid-out data
    * ([[commitTransformed]]), so spec and layout can never disagree,
    * even across a crash mid-commit on a transform REPLACE. The
    * descriptor's transforms ([[TableMeta]]) are a write-behind copy and
    * the home of a layout declared before the first commit: consulted
    * only when no header exists at the head.
    */
  def partitionTransforms: Seq[PartitionTransform] =
    transformsFor(
      try currentVersion.map(manifest).getOrElse(Manifest.empty)
      catch { case scala.util.control.NonFatal(_) => Manifest.empty })

  /** Transform spec for a manifest already in hand — callers on the read
    * path pass their own manifest (and descriptor), so the spec costs no
    * extra manifest read (head discovery stays O(1) reads).
    */
  private def transformsFor(m: Manifest,
      meta: => TableMeta = tableMeta): Seq[PartitionTransform] =
    m.transforms.getOrElse(meta.transforms)

  private def writePtspec(ts: Seq[PartitionTransform]): Unit =
    TableMeta.update(hfs, tableRoot)(_.copy(transforms = ts)): Unit

  /** Declare hidden-partition transforms for a (possibly still empty)
    * table from its schema — the catalog's `CREATE TABLE ...
    * PARTITIONED BY (months(c), bucket(8, k))` seam. Writes land through
    * [[commitTransformed]]; reads hide the layout.
    */
  def declareTransforms(schema: org.apache.spark.sql.types.StructType,
      specs: Seq[String]): Seq[PartitionTransform] = {
    require(specs.nonEmpty, "declareTransforms: empty transform list")
    val parsed = specs.map(parseTransformOn(schema, _))
    writePtspec(parsed)
    parsed
  }

  /** (Re)compute every declared derived column whose source is present —
    * the recompute seam keeping [[merge]]/[[updateWhere]] layout-correct
    * when a write touches a transform's source column (a stale derived
    * value would land rows in the wrong partition and silently corrupt
    * pruning).
    */
  private def applyTransforms(df: DataFrame): DataFrame = {
    val ts = partitionTransforms
    ts.filter(t => df.columns.contains(t.src))
      .foldLeft(df)((d, t) => d.withColumn(t.derivedName, t.derive(col(s"`${t.src}`"))))
  }

  /** Commit `df` hidden-partitioned by `specs` (e.g. `Seq("days(ts)",
    * "bucket(16, user_id)")`). The first commit declares the layout;
    * appends must redeclare the same specs (a different layout needs
    * `replace = true`, which re-lays-out wholesale). The derived `_p_*`
    * columns are internal: [[read]]/[[readWhere]] hide them.
    */
  def commitTransformed(df: DataFrame, specs: Seq[String], replace: Boolean,
      txn: Option[String] = None): Long = {
    require(specs.nonEmpty, "commitTransformed: empty transform list")
    val parsed = specs.map(parseTransform(df, _))
    val existing = partitionTransforms
    if (existing.nonEmpty && !replace)
      require(existing.map(_.spec) == parsed.map(_.spec),
        s"commitTransformed(append): declared layout is " +
          s"${existing.map(_.spec).mkString(", ")}; got " +
          s"${parsed.map(_.spec).mkString(", ")} — appends must match " +
          "(replace=true re-lays-out)")
    val (laidOut, names) = transformed(df, parsed)
    // the spec rides the SAME atomic manifest publish as the laid-out
    // data (`#ptspec:` header): spec and layout can never disagree, even
    // across a crash mid-replace — a reader of the new head sees the new
    // spec, a reader of the old head the old one
    val ver = commitPartitioned(laidOut, names, replace, txn,
      extraHeader = Some(Header.ptspec(parsed).text))
    // descriptor = write-behind copy (pre-commit declarations);
    // written only AFTER the data publish succeeds, so a failed commit
    // can never leave a NEW spec declared over OLD-layout data — and if
    // THIS write crashes, the header above is still the spec of record
    writePtspec(parsed)
    ver
  }

  /** `df` with the derived columns of the transforms `parsed`, and their
    * names. The rows are clustered by the derived values before the
    * partitioned write: without it every task opens a file in every
    * partition value it holds — at 1000 tasks × 1000 values that is 10^6
    * near-empty files per commit. Transforms are DESIGNED to bound value
    * counts (buckets hash-balance, time grains batch), so one exchange for
    * ~one file per value is the right default here, unlike raw
    * commitPartitioned's opt-in.
    */
  private def transformed(df: DataFrame,
      parsed: Seq[PartitionTransform]): (DataFrame, Seq[String]) = {
    val names = parsed.map(_.derivedName)
    (parsed.foldLeft(df)((d, t) => d.withColumn(t.derivedName, t.derive(col(s"`${t.src}`"))))
      .repartition(names.map(n => col(s"`$n`")): _*), names)
  }

  /** Split a predicate into conjuncts (`Or`/`Not` stay whole: they never
    * prune, the row filter handles them).
    */
  private def conjunctsOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  private def attNameOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[String] = e match {
    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(a.name)
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference => Some(a.name)
    case _ => None
  }

  /** Derived-value rendering of a foldable probe expression, cast
    * through the RECORDED source type so hashing/formatting matches the
    * write side byte-for-byte (the correctness seam — an int and a long
    * hash differently). One 1-row local job per bound: driver-side
    * metadata cost, never touches the table.
    */
  private def derivedOf(t: PartitionTransform,
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = {
    val row = spark.range(1)
      .select(t.derive(org.apache.spark.sql.GraftSqlShim.column(e)
        .cast(t.srcType)).cast("string").as("d"))
      .head()
    if (row.isNullAt(0)) None else Option(row.getString(0))
  }

  /** File names of the current version surviving transform pruning for
    * `cond` — the observability seam the specs pin file-skip counts on.
    */
  private[graft] def prunedCandidates(cond: org.apache.spark.sql.Column): Seq[String] =
    prunedCandidates(cond, manifest(committedHead()), tableMeta)

  /** [[prunedCandidates]] of the snapshot `m`: the transform tier
    * ([[transformPruned]]), then the column-stats tier ([[statsPruned]]).
    */
  private def prunedCandidates(cond: org.apache.spark.sql.Column, m: Manifest,
      meta: TableMeta): Seq[String] =
    if (m.data.isEmpty) Nil
    else resolvedConjuncts(readManifest(m, meta), cond).fold(m.dataNames) { conj =>
      statsPruned(m, conj, transformPruned(m, conj, transformsFor(m, meta)))
    }

  /** The conjuncts of `cond` resolved against `df`'s columns. A Spark-4
    * Column is a ColumnNode tree, not a catalyst expression: resolve it
    * the honest way — analyze a Filter over `df` and lift the RESOLVED
    * condition (attributes bound, literals type-coerced/foldable) out of
    * the plan. Driver-side analysis, no execution.
    */
  private def resolvedConjuncts(df: DataFrame, cond: org.apache.spark.sql.Column)
      : Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] =
    df.filter(cond).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => conjunctsOf(f.condition)
    }

  /** The data files of `m` that the resolved conjuncts `conj` keep
    * through hidden-partition transform pruning: bounds on a transform's
    * SOURCE column bound its derived column. Each derived bound costs one
    * 1-row local job ([[derivedOf]]).
    */
  private def transformPruned(m: Manifest,
      conj: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      specs: Seq[PartitionTransform]): Seq[String] = {
    import org.apache.spark.sql.catalyst.{expressions => E}
    val stats = m.fileStats
    // the literal side is any sub-expression the optimizer could fold
    // (Literal, Cast(Literal), arithmetic over them)
    def isLit(e: E.Expression): Boolean = e.foldable
    var candidates = m.dataNames
    specs.foreach { t =>
      // (lo, hi) bounds on the DERIVED value, None = unbounded side
      val bounds: Seq[(Option[String], Option[String])] = conj.flatMap {
        case E.EqualTo(a, l) if attNameOf(a).contains(t.src) && isLit(l) =>
          derivedOf(t, l).map(d => (Some(d), Some(d)))
        case E.EqualTo(l, a) if attNameOf(a).contains(t.src) && isLit(l) =>
          derivedOf(t, l).map(d => (Some(d), Some(d)))
        case E.EqualNullSafe(a, l) if attNameOf(a).contains(t.src) && isLit(l) =>
          derivedOf(t, l).map(d => (Some(d), Some(d)))
        case E.In(a, vs) if attNameOf(a).contains(t.src) && vs.nonEmpty &&
            vs.forall(isLit) =>
          // ONE local job derives the whole IN list (a per-element probe
          // would launch len(IN) driver jobs — the 1000-element IN trap)
          val ds = spark.range(1)
            .select(org.apache.spark.sql.functions.explode(
              org.apache.spark.sql.functions.array(vs.map(x =>
                org.apache.spark.sql.GraftSqlShim.column(x)
                  .cast(t.srcType)): _*)).as("x"))
            .select(t.derive(col("x")).cast("string").as("d"))
            .collect().map(r => Option(r.getString(0)))
          if (ds.exists(_.isEmpty) || ds.isEmpty) None
          else {
            // range over the derived values: loose for bucket but always
            // correct (overlaps is a per-file interval test)
            val sorted = ds.flatten.toSeq
              .sortWith(ColStats.cmp(t.derivedTpe, _, _) < 0)
            Some((Some(sorted.head), Some(sorted.last)))
          }
        case E.GreaterThanOrEqual(a, l) if attNameOf(a).contains(t.src) &&
            isLit(l) && t.monotone => derivedOf(t, l).map(d => (Some(d), None))
        case E.GreaterThan(a, l) if attNameOf(a).contains(t.src) &&
            isLit(l) && t.monotone => derivedOf(t, l).map(d => (Some(d), None))
        case E.LessThanOrEqual(a, l) if attNameOf(a).contains(t.src) &&
            isLit(l) && t.monotone => derivedOf(t, l).map(d => (None, Some(d)))
        case E.LessThan(a, l) if attNameOf(a).contains(t.src) &&
            isLit(l) && t.monotone => derivedOf(t, l).map(d => (None, Some(d)))
        // reversed comparisons: lit OP col flips the bound side
        case E.GreaterThanOrEqual(l, a) if attNameOf(a).contains(t.src) &&
            isLit(l) && t.monotone => derivedOf(t, l).map(d => (None, Some(d)))
        case E.GreaterThan(l, a) if attNameOf(a).contains(t.src) &&
            isLit(l) && t.monotone => derivedOf(t, l).map(d => (None, Some(d)))
        case E.LessThanOrEqual(l, a) if attNameOf(a).contains(t.src) &&
            isLit(l) && t.monotone => derivedOf(t, l).map(d => (Some(d), None))
        case E.LessThan(l, a) if attNameOf(a).contains(t.src) &&
            isLit(l) && t.monotone => derivedOf(t, l).map(d => (Some(d), None))
        case _ => None
      }
      bounds.foreach { case (lo, hi) =>
        candidates = candidates.filter { n =>
          stats.get(n).flatMap(_.get(t.derivedName)).forall { s =>
            lo.forall(b => ColStats.cmp(s.tpe, s.max, b) >= 0) &&
              hi.forall(b => ColStats.cmp(s.tpe, s.min, b) <= 0)
          }
        }
      }
    }
    candidates
  }

  /** The names of `candidates` (data files of `m`) whose per-file footer
    * min/max admit every comparison of a column with a literal among the
    * resolved conjuncts `conj` — clustered / naturally-ordered tables skip
    * files with no transform declared. Manifest stats alone: no listing,
    * no footer read, no job. A file without a bound on a column stays a
    * candidate.
    */
  private def statsPruned(m: Manifest,
      conj: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      candidates: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.catalyst.{expressions => E}
    val stats = m.fileStats
    def isLit(e: E.Expression): Boolean = e.foldable
    // The probe value is the RESOLVED literal's internal rendering, which
    // matches how the manifest stats were tagged (timestamps as micros,
    // dates as epoch days, strings as UTF-16-comparable text); a
    // rendering the stat's type tag cannot parse never prunes.
    def rendered(e: E.Expression): Option[String] =
      try e.eval(null) match {
        case null => None
        case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
        case n @ (_: java.lang.Long | _: java.lang.Integer |
                  _: java.lang.Short | _: java.lang.Byte |
                  _: java.lang.Double | _: java.lang.Float) =>
          Some(String.valueOf(n))
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }
    def safeFor(tpe: String, s: String): Boolean = tpe match {
      case "long"   => s.matches("-?\\d+")
      case "double" => s.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?")
      case _        => true
    }
    val colBounds: Seq[(String, Option[String], Option[String])] = conj.flatMap {
      case E.EqualTo(a, l) if attNameOf(a).isDefined && isLit(l) =>
        rendered(l).map(d => (attNameOf(a).get, Some(d), Some(d)))
      case E.EqualTo(l, a) if attNameOf(a).isDefined && isLit(l) =>
        rendered(l).map(d => (attNameOf(a).get, Some(d), Some(d)))
      case E.GreaterThanOrEqual(a, l) if attNameOf(a).isDefined && isLit(l) =>
        rendered(l).map(d => (attNameOf(a).get, Some(d), None))
      case E.GreaterThan(a, l) if attNameOf(a).isDefined && isLit(l) =>
        rendered(l).map(d => (attNameOf(a).get, Some(d), None))
      case E.LessThanOrEqual(a, l) if attNameOf(a).isDefined && isLit(l) =>
        rendered(l).map(d => (attNameOf(a).get, None, Some(d)))
      case E.LessThan(a, l) if attNameOf(a).isDefined && isLit(l) =>
        rendered(l).map(d => (attNameOf(a).get, None, Some(d)))
      case E.GreaterThanOrEqual(l, a) if attNameOf(a).isDefined && isLit(l) =>
        rendered(l).map(d => (attNameOf(a).get, None, Some(d)))
      case E.GreaterThan(l, a) if attNameOf(a).isDefined && isLit(l) =>
        rendered(l).map(d => (attNameOf(a).get, None, Some(d)))
      case E.LessThanOrEqual(l, a) if attNameOf(a).isDefined && isLit(l) =>
        rendered(l).map(d => (attNameOf(a).get, Some(d), None))
      case E.LessThan(l, a) if attNameOf(a).isDefined && isLit(l) =>
        rendered(l).map(d => (attNameOf(a).get, Some(d), None))
      case _ => None
    }
    candidates.filter { n =>
      colBounds.forall { case (c, lo, hi) =>
        stats.get(n).flatMap(_.get(c)).forall { s =>
          lo.forall(b => !safeFor(s.tpe, b) || ColStats.cmp(s.tpe, s.max, b) >= 0) &&
            hi.forall(b => !safeFor(s.tpe, b) || ColStats.cmp(s.tpe, s.min, b) <= 0)
        }
      }
    }
  }

  /** Filtered snapshot read with hidden-partition pruning: predicates on
    * transform SOURCE columns skip whole files via the manifest's
    * derived-value bounds (equality/IN through bucket; ranges through
    * the order-preserving transforms), then `cond` applies exactly
    * row-wise. On a non-transformed table this is just `read().filter`.
    */
  def readWhere(cond: org.apache.spark.sql.Column): DataFrame = {
    val v = committedHead()
    val m = manifest(v)
    val meta = tableMeta
    def hide(df: DataFrame): DataFrame = withoutLayout(df, transformsFor(m, meta))
    if (m.data.isEmpty) return hide(readVersion(v).filter(cond))
    val candidates = prunedCandidates(cond, m, meta)
    if (candidates.isEmpty) hide(readVersion(v).filter(cond).limit(0))
    else hide(readFiles(m.dataEntries(candidates), dvFrameOf(m.dvNames), partTypesOf(m), meta,
      snapshotSchema(m, meta)).filter(cond))
  }

  // ---- named refs: tags, branches, write-audit-publish ---------------------
  //
  // A ref is one tiny file under `_refs/<name>` holding `kind\tversion`,
  // published with the same conditional-create primitive as manifests
  // (concurrent creates of one name: exactly one wins). Tags pin a main
  // version against vacuum (reference: Iceberg snapshot tags). Branches
  // are shallow clones under `_branches/<name>` — zero-copy forks whose
  // writers pool into their own dir, vacuum-safe through the `_clones/`
  // markers [[cloneFrom]] registers — and [[fastForward]] is the
  // write-audit-publish close: the branch's state becomes the main head
  // in one conditional publish, its new files adopted by rename
  // (metadata-only, O(changed files)), refusing unless main is still at
  // the fork point.

  private val refsDir = new Path(tableRoot, "_refs")
  private def branchDir(name: String) = new Path(tableRoot, s"_branches/$name")

  /** Branch roots live INSIDE the table dir (next to `data/`, invisible
    * to main readers); the catalog needs the path to serve
    * `VERSION AS OF '<branch>'`.
    */
  private[catalog] def branchRootPath(name: String): String =
    branchDir(name).toString

  // names must be path-safe and never parse as a bare version number
  // (`VERSION AS OF '7'` must stay numeric time travel)
  private val RefName = "^[A-Za-z][A-Za-z0-9._-]{0,63}$".r
  private def requireRefName(name: String): Unit =
    require(RefName.matches(name),
      s"ref name '$name' must match ${RefName.regex} (start with a letter)")

  // in-flight branch-create claims (see [[createBranch]]'s two-phase
  // publish); never listed as refs
  private def pendingRefsDir = new Path(refsDir, ".pending")

  /** All named refs of this table. */
  def refs: Map[String, RefInfo] =
    if (!hfs.exists(refsDir)) Map.empty
    else hfs.listStatus(refsDir).toSeq.filter(_.isFile)
      .flatMap(st => ref(st.getPath.getName))
      .map(r => r.name -> r).toMap

  /** One named ref, if it exists. */
  def ref(name: String): Option[RefInfo] = {
    val p = new Path(refsDir, name)
    if (!hfs.exists(p)) None
    else {
      val txt = LogStore.readString(hfs, p)
      txt.trim.split('\t') match {
        case Array(kind, v) => Some(RefInfo(name, kind, v.toLong))
        case _              => None // torn/foreign file: ignore, never explode
      }
    }
  }

  /** Create an immutable tag at `version` (default: head). The tagged
    * version is pinned: [[vacuum]] keeps it and its files regardless of
    * `keepVersions` until the tag is dropped.
    */
  def createTag(name: String, version: Option[Long] = None): Long = {
    requireRefName(name)
    val v = version.getOrElse(committedHead("createTag: "))
    require(committedVersions.contains(v),
      s"createTag: version $v is not retained under $tableRoot " +
        s"(have: ${committedVersions.sorted.mkString(", ")})")
    hfs.mkdirs(refsDir)
    if (!store.putIfAbsent(new Path(refsDir, name),
        s"tag\t$v".getBytes(StandardCharsets.UTF_8)))
      throw new IllegalArgumentException(
        s"createTag: ref '$name' already exists under $tableRoot")
    // a concurrent vacuum may have read refs BEFORE this tag landed and
    // collected v — fail loudly rather than hand back a dangling tag
    if (!isCommitted(v)) {
      hfs.delete(new Path(refsDir, name), false)
      throw new java.io.IOException(
        s"createTag: version $v of $tableRoot was vacuumed mid-create; " +
          "re-tag a retained version")
    }
    v
  }

  /** Fork a zero-copy branch at `version` (default: head): a shallow
    * clone under `_branches/<name>` whose writers pool into their own
    * dir ([[cloneFrom]] semantics and refusals — the main table must be
    * unpartitioned and DV-free). The clone forks main's contracts (CHECK
    * constraints, clustering, TTL, evolved schema, transform spec), so
    * audited writes meet the same contracts they'll be published under;
    * the branch root is the clone's one version.
    */
  def createBranch(name: String, version: Option[Long] = None): Long = {
    requireRefName(name)
    require(ref(name).isEmpty,
      s"createBranch: ref '$name' already exists under $tableRoot")
    val root = branchDir(name)
    // Each create clones into its OWN `.tmp-*` dir and only touches the
    // shared branch dir AFTER winning the atomic ref: the old in-place
    // clone raced destructively — creator B's pre-clean of branchDir
    // could wipe creator A's in-flight clone, and the putIfAbsent
    // loser's cleanup deleted the winner's just-registered dir, leaving
    // a ref on a missing root. Crashed creators' tmp dirs age out below.
    sweepBranchTmp()
    val v = version.getOrElse(committedHead("createBranch: "))
    // every pool root the fork will reference (same derivation as
    // cloneFrom's marker registration) — needed to move/retire the
    // vacuum-protection markers when the tmp clone renames into place
    val srcData = new Path(tableRoot, "data")
    val roots = manifest(v).dataNames
      .map(n => if (Manifest.isAbsoluteName(n)) n else new Path(srcData, n).toString)
      .flatMap(dataRootOf).map(_.stripSuffix("/data")).toSet
    val tmp = new Path(tableRoot,
      s"_branches/.tmp-$name-${java.util.UUID.randomUUID().toString.take(8)}")
    val bl = new CommitLog(spark, tmp.toString)
    def dropTmp(): Unit = {
      roots.foreach(deregisterCloneAt(_, tmp.toString))
      hfs.delete(tmp, true): Unit
    }
    try bl.cloneFrom(tableRoot, Some(v)): Unit
    catch { case e: Throwable => dropTmp(); throw e }
    // Two-phase publish so a visible ref ALWAYS implies its root exists
    // (readers never race the rename): (1) an atomic PENDING claim under
    // `_refs/.pending/` makes the shared branch root exclusively ours,
    // (2) the fully-built clone renames into place, (3) the real ref
    // publishes LAST. Every step is putIfAbsent/rename — no torn writes.
    // A crashed creator's claim ages out with its tmp dir (sweep above).
    hfs.mkdirs(pendingRefsDir)
    val claim = new Path(pendingRefsDir, name)
    if (!store.putIfAbsent(claim,
        s"branch\t$v".getBytes(StandardCharsets.UTF_8))) {
      dropTmp()
      throw new IllegalArgumentException(
        s"createBranch: a create of '$name' is already in flight under " +
          s"$tableRoot (a crashed creator's claim ages out within an hour)")
    }
    // Holding the claim, the final root is exclusively ours. Final-root
    // markers land BEFORE the rename so vacuum protection never lapses
    // (the tmp markers still resolve until the swap completes); a
    // ref-less orphan dir from a crashed creator clears here, under the
    // claim, where no live create can be inside it.
    roots.foreach(registerCloneAt(_, root.toString))
    if (hfs.exists(root)) hfs.delete(root, true)
    if (!hfs.rename(tmp, root)) {
      roots.foreach(deregisterCloneAt(_, root.toString))
      dropTmp()
      hfs.delete(claim, false): Unit
      throw new java.io.IOException(
        s"createBranch: could not move $tmp into place as $root")
    }
    roots.foreach(deregisterCloneAt(_, tmp.toString))
    // root complete and in place: publish the ref (a tag created under
    // the same name while we built loses us the race — roll back fully)
    hfs.mkdirs(refsDir)
    if (!store.putIfAbsent(new Path(refsDir, name),
        s"branch\t$v".getBytes(StandardCharsets.UTF_8))) {
      roots.foreach(deregisterCloneAt(_, root.toString))
      hfs.delete(root, true): Unit
      hfs.delete(claim, false): Unit
      throw new IllegalArgumentException(
        s"createBranch: ref '$name' already exists under $tableRoot")
    }
    hfs.delete(claim, false): Unit
    v
  }

  /** Remove `.tmp-*` branch-clone dirs and `.pending` create claims
    * older than an hour (a live [[createBranch]] completes in seconds;
    * an aged tmp or claim is a crashed creator), retiring the clone
    * markers the tmp dirs registered.
    */
  private def sweepBranchTmp(): Unit = {
    if (hfs.exists(pendingRefsDir)) {
      val claimCutoff = System.currentTimeMillis() - 60L * 60 * 1000
      hfs.listStatus(pendingRefsDir).foreach { st =>
        if (st.isFile && st.getModificationTime <= claimCutoff)
          hfs.delete(st.getPath, false): Unit
      }
    }
    val dir = new Path(tableRoot, "_branches")
    if (!hfs.exists(dir)) return
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    hfs.listStatus(dir).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(".tmp-") &&
          st.getModificationTime <= cutoff) {
        val dead = new CommitLog(spark, st.getPath.toString)
        dead.currentVersion.foreach { dv =>
          dead.manifest(dv).dataNames.flatMap(dataRootOf)
            .map(_.stripSuffix("/data")).toSet[String]
            .foreach(deregisterCloneAt(_, st.getPath.toString))
        }
        hfs.delete(st.getPath, true): Unit
      }
    }
  }

  /** Retire one clone marker — the inverse of [[registerCloneAt]]. */
  private def deregisterCloneAt(srcRoot: String, cloneRoot: String): Unit = {
    val marker = new Path(new Path(srcRoot, "_clones"),
      java.net.URLEncoder.encode(cloneRoot, "UTF-8"))
    hfs.delete(marker, false): Unit
  }

  /** The commit log of a branch — the write handle for the audit stage
    * of write-audit-publish.
    *
    * [[createBranch]] publishes the ref LAST (after the fully-built
    * clone renames into the branch root), so a visible branch ref
    * always implies its root exists — no reader ever waits on a rename
    * in flight. A ref over a missing root is therefore a real
    * inconsistency (manual deletion, partial restore) and errors
    * loudly, immediately.
    */
  def branchLog(name: String): CommitLog = {
    val r = ref(name).getOrElse(throw new IllegalArgumentException(
      s"branchLog: no ref '$name' under $tableRoot"))
    require(r.kind == "branch", s"branchLog: ref '$name' is a ${r.kind}")
    val root = branchDir(name)
    if (!hfs.exists(root)) throw new IllegalStateException(
      s"branchLog: ref '$name' exists but its root $root does not — " +
        "the root was removed out-of-band; drop the ref and re-create")
    new CommitLog(spark, root.toString)
  }

  /** Drop a ref. For a branch the whole fork dir goes too; its
    * `_clones/` marker on this table self-cleans at the next vacuum.
    */
  def dropRef(name: String): Unit = {
    val r = ref(name).getOrElse(throw new IllegalArgumentException(
      s"dropRef: no ref '$name' under $tableRoot"))
    hfs.delete(new Path(refsDir, name), false): Unit
    if (r.kind == "branch") hfs.delete(branchDir(name), true): Unit
  }

  /** Publish a branch's state as the main head — the WAP close. Refuses
    * unless main is still exactly at the branch's fork point (a true
    * fast-forward; anything else needs a re-branch or a keyed merge).
    * The branch's own pool files are validated against main's CHECK
    * constraints (O(new files), never O(table)) and adopted by rename;
    * unchanged files were main's all along (absolute refs fold back to
    * relative names). One conditional manifest publish makes the switch
    * atomic; losing it to a concurrent commit rolls the renames back
    * and leaves the branch intact. Success consumes the branch.
    */
  def fastForward(name: String): Long = {
    val r = ref(name).getOrElse(throw new IllegalArgumentException(
      s"fastForward: no ref '$name' under $tableRoot"))
    require(r.kind == "branch", s"fastForward: ref '$name' is a ${r.kind}")
    val bl = branchLog(name)
    val bv = bl.currentVersion.getOrElse(throw new IllegalStateException(
      s"fastForward: branch '$name' has no commits"))
    val branch = bl.manifest(bv)
    require(branch.partitionColumns.isEmpty,
      s"fastForward: branch '$name' is hive-partitioned; publish cannot " +
        "span partition roots — materialize with INSERT OVERWRITE instead")
    require(branch.dvs.isEmpty,
      s"fastForward: branch '$name' carries merge-on-read deletion " +
        "vectors whose tombstones bind to branch-local file names; fold " +
        "them first: CALL <catalog>.system.rewrite_deletes on the branch")
    val head = committedHead("fastForward: ")
    if (head != r.version) throw new IllegalStateException(
      s"fastForward: $tableRoot advanced past the '$name' fork point " +
        s"(${r.version} -> $head) — not a fast-forward; re-branch from the " +
        "head or bring the changes over with a keyed merge")
    val bData = new Path(branchDir(name), "data")
    val myData = dataDir.toUri.getPath
    // split the branch's data entries into its OWN pool files (relative
    // names — the audited new/rewritten data) and references back into
    // main's pool (absolute — untouched since the fork)
    val ownEntries = branch.data.filterNot(_.absolute)
    val own = ownEntries.map(_.name)
    val main = manifest(head)
    enforceConstraintsOnPaths(ownEntries.map(e => new Path(bData, e.name) ->
        e.bytes.getOrElse(hfs.getFileStatus(new Path(bData, e.name)).getLen)),
      main.checks, s"fastForward('$name')", schemaOf(main))
    hfs.mkdirs(dataDir)
    val moved = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
    def rollback(): Unit = moved.foreach { case (src, dst) => hfs.rename(dst, src) }
    own.foreach { n =>
      val (src, dst) = (new Path(bData, n), new Path(dataDir, n))
      if (!hfs.rename(src, dst)) {
        rollback()
        throw new java.io.IOException(
          s"fastForward: could not adopt $src into $dataDir")
      }
      moved += ((src, dst))
    }
    val rewritten = branch.data.map { e =>
      val p = if (e.absolute) new Path(e.name).toUri.getPath else e.name
      if (e.absolute && p.startsWith(myData + "/")) e.copy(name = p.stripPrefix(myData + "/"))
      else e
    }
    // clone-of-clone chains: an entry may still point at a THIRD root;
    // register main there so that root's vacuum keeps the file live
    rewritten.filter(_.absolute).flatMap(e => dataRootOf(e.name))
      .map(_.stripSuffix("/data")).toSet[String]
      .foreach(registerCloneAt(_, tableRoot))
    // standing table lineage and contracts stay MAIN's (txn memory,
    // constraints, clustering); the branch ships data, not DDL
    val published = (replaceCarried(main) ++ rewritten).set(Header.op("fast_forward"))
    // single-shot, not a headRace: a moved head ends the fast-forward, and
    // its renames roll back
    if (!publish(head + 1, published)) {
      rollback()
      throw new IllegalStateException(
        s"fastForward: a concurrent commit advanced $tableRoot past $head " +
          s"— not a fast-forward anymore; re-branch and retry")
    }
    hfs.delete(new Path(refsDir, name), false): Unit
    hfs.delete(branchDir(name), true): Unit
    head + 1
  }

  // ---- the commit protocol ------------------------------------------------

  /** The commit protocol: every single-table mutation publishes its next
    * version through this one optimistic race for version head+1. Each
    * attempt
    *
    *  1. pins the head and reads its manifest once. An uncommitted table
    *     pins v0 with an empty manifest, unless `headless` is given: then the
    *     operation needs a head and throws what `headless` builds;
    *  2. runs `decide(head, manifest)`, which validates against that
    *     snapshot (constraint re-checks through the write's
    *     [[ConstraintGate]]) and either settles without publishing
    *     ([[Settle]]: a no-op, a `#txn:` id already applied, a delegated
    *     commit) or hands back the manifest for head+1 ([[Publish]]).
    *     Whatever it stages goes through [[stage]] / [[poolParts]] under
    *     uuid pool names, so a lost attempt leaves only orphans, which
    *     vacuum's in-flight guard ages out;
    *  3. calls [[beforePublish]]`(attempt, head+1)` (attempt counts from
    *     0), then publishes that manifest, its `#op:` set to `op`, at head+1
    *     through the store's put-if-absent ([[publish]]);
    *  4. on a win, returns `onWin(head+1)`. On a loss another writer
    *     landed head+1 first: pause ([[racePause]]) and try again on the
    *     new head H under one rule ([[rebased]]). The lost manifest, diffed
    *     against the base B it was computed on, is the write's delta: the
    *     entries it removes, the entries it adds, and any header it edits
    *     (`#op:` aside). The delta lands on H, as H less the removed entries
    *     plus the added ones, with no recompute and no Spark job, when the
    *     write has a read test ([[Publish]]`.reads`), edits no header, and:
    *      - H still lists every data and deletion-vector entry of B;
    *      - H's headers other than [[Manifest.PerCommit]] and
    *        [[Manifest.Lineage]], and its `#partition:` layout, equal B's;
    *      - no data entry added since B passes the read test;
    *      - every deletion vector added since B has a (file, position)
    *        stats box that overlaps no deletion vector the write adds, and
    *        whose file bounds hold no data file the write removes.
    *     Otherwise `decide` recomputes against H. So nothing computed on a
    *     stale snapshot is published unchecked, and nothing is erased.
    *
    * After `budget` lost attempts it throws `IOException("<name>: lost the
    * head race <budget> times under <root>")`. Append and metadata paths
    * spend 50 attempts (a retry only re-reads one manifest); paths that
    * recompute a rewrite per attempt spend 5.
    */
  private def headRace[T](name: String, op: String, budget: Int = 50,
      headless: Option[() => Exception] = None)(
      decide: (Long, Manifest) => Attempt[T]): T = {
    // the last publish that lost, and the head it was computed on
    var lost: Option[(Manifest, Publish[T])] = None
    var attempt = 0
    while (attempt < budget) {
      val head = currentVersion.getOrElse(headless.fold(0L)(fail => throw fail()))
      val m = manifest(head)
      lost.flatMap { case (base, p) => rebased(base, m, p) }
        .getOrElse(decide(head, m)) match {
        case Settle(result) => return result
        case p @ Publish(next, onWin, _) =>
          beforePublish(attempt, head + 1)
          if (publish(head + 1, next.set(Header.op(op)))) return onWin(head + 1)
          lost = Some((m, p))
          racePause(attempt, head + 1)
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"$name: lost the head race $budget times under $tableRoot")
  }

  /** [[Publish]] whose result is the version it lands at. */
  private def publishAt(m: Manifest, reads: Option[Manifest => Boolean] = None)
      : Attempt[Long] = Publish(m, v => v, reads)

  /** `p`, computed on `base` and lost to `head`, with its delta landed on
    * `head` when the one rule of [[headRace]] step 4 allows it; None when
    * it must recompute.
    */
  private def rebased[T](base: Manifest, head: Manifest, p: Publish[T]): Option[Publish[T]] =
    p.reads.flatMap { reads =>
      def key(e: Entry) = (e.name, e.dv)
      def headers(m: Manifest, skip: Set[String]) =
        m.without(skip).filterEntries(_ => false).items.toSet
      val notContract = Manifest.PerCommit ++ Manifest.Lineage - Manifest.Partition
      val had = base.entries.map(key).toSet
      val has = p.manifest.entries.map(key).toSet
      val removed = base.entries.filterNot(e => has(key(e)))
      val added = p.manifest.entries.filterNot(e => had(key(e)))
      val racing = head.filterEntries(e => !had(key(e)))
      lazy val gone = removed.filterNot(_.dv).map(e => leafOf(e.name))
      lazy val mine = added.filter(_.dv).map(dvBox)
      // a racing deletion vector conflicts without a stats box, or when its
      // box overlaps one this write adds or its file bounds hold a removed file
      def clear(d: Entry) = dvBox(d).exists { case (file, pos) =>
        gone.forall(n => !file.overlaps(n, n)) && mine.forall(_.exists { case (f, q) =>
          !(file.overlaps(f.min, f.max) && pos.overlaps(q.min, q.max))
        })
      }
      Option.when(headers(p.manifest, Set(Manifest.Op)) == headers(base, Set(Manifest.Op)) &&
          had.subsetOf(head.entries.map(key).toSet) &&
          headers(head, notContract) == headers(base, notContract) &&
          !reads(Manifest(racing.data)) && racing.dvs.forall(clear)) {
        val dropped = removed.map(key).toSet
        p.copy(manifest = head.filterEntries(e => !dropped(key(e))) ++ added)
      }
    }

  /** A deletion-vector entry's (file, position) stats box. */
  private def dvBox(e: Entry): Option[(ColStats, ColStats)] = {
    val st = e.colStats
    for (f <- st.get(DvKeys.head); p <- st.get(DvKeys.last)) yield (f, p)
  }

  /** The read test ([[Publish]]`.reads`) of a keyed write: a data entry
    * whose key stats admit the range of `keys` ([[keyCandidates]]).
    */
  private def keyMatch(keys: CommitLog.BatchKeys, keyCol: String): Option[Manifest => Boolean] =
    Some(m => keyCandidates(m, keys, keyCol).nonEmpty)

  /** The read test of a predicate write: a data entry whose column stats
    * admit every column-literal comparison of `cond` ([[statsPruned]]).
    * `cond` is resolved against `scanned`, the relation the write matched
    * it on, on the first test, so a write that wins its first race never
    * pays the analysis.
    */
  private def predicateMatch(scanned: => DataFrame,
      cond: org.apache.spark.sql.Column): Option[Manifest => Boolean] = {
    lazy val conj = resolvedConjuncts(scanned, cond)
    Some(m => m.data.nonEmpty && conj.forall(c => statsPruned(m, c, m.dataNames).nonEmpty))
  }

  /** The read test of a rewrite that reads only the files it removes. */
  private val readsRemovedOnly: Option[Manifest => Boolean] = Some(_ => false)

  /** The missing-head failure of the mutators that need a committed head. */
  private def missingHead(prefix: String = ""): Exception =
    new java.io.FileNotFoundException(s"${prefix}no committed version under $tableRoot")

  /** [[headRace]]'s `headless` for those mutators. */
  private def requireHead: Option[() => Exception] = Some(() => missingHead())

  /** The committed head, or [[missingHead]]. */
  private def committedHead(prefix: String = ""): Long =
    currentVersion.getOrElse(throw missingHead(prefix))

  /** Post-lost-race pause: back off briefly while the version this
    * writer just raced for is STILL unpublished — the claim-holder is
    * mid-materialization (conditional-PUT stores claim first, write
    * after). Without a pause the whole retry budget can burn in
    * microseconds of spinning while the holder is descheduled; with it
    * the budget spans seconds of REAL contention. No pause when the
    * head already moved past the target — that loss is progress and the
    * retry should recompute immediately.
    */
  private def racePause(attempt: Int, targeted: Long): Unit =
    if (currentVersion.getOrElse(0L) < targeted)
      Thread.sleep(math.min(100L, 1L << math.min(attempt, 7)))

  /** Test seam: runs just before each publish attempt, letting a spec
    * inject a racing writer's manifest deterministically. */
  protected def beforePublish(attempt: Int, v: Long): Unit = ()

  /** Publish version `v` with exactly this manifest, through the
    * store's conditional create. False = lost the race; the caller
    * re-reads the head and retries. No rename of the manifest name is
    * ever involved, so the protocol holds on substrates without atomic
    * rename (object stores) given a conditional-put [[LogStore]].
    */
  private def publish(v: Long, m: Manifest): Boolean = {
    enforceFence(m)   // a fenced stale primary must bounce, not fork
    hfs.mkdirs(commitsDir)
    val won = store.putIfAbsent(manifestPath(v), LogStore.lines(m.lines))
    if (won) {
      writeHeadHint(v)   // best-effort; stale-low is self-healing
      maintainBloomIndexes(v, m)
      maintainAnnIndexes(v, m)
      autoEnforceTtl(m)
      autoRewriteDeletes(m)
      autoCompact(m)
      autoVacuum()
    }
    won
  }

  /** One publish-time maintenance hook: `act` reports whether it acted.
    * It is skipped while this thread is already inside it (`running`), so
    * the hook's own publish never recurses, and it is best-effort: the
    * triggering commit already stands, so any failure degrades to the
    * manual path, never a failed commit or a wrong answer.
    */
  private def hook(running: ThreadLocal[java.lang.Boolean])(act: => Boolean): Boolean =
    !running.get() && {
      running.set(true)
      try act catch { case scala.util.control.NonFatal(_) => false }
      finally running.set(false)
    }

  private def reentrancyGuard(): ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)
  private val compacting, vacuumRunning, deleteFolding, ttlEnforcing = reentrancyGuard()

  /** Maintenance knob resolution: the SESSION conf wins (operator
    * override), else the table's own TBLPROPERTIES (its descriptor) — the
    * declared-once-on-the-table posture: a retention or compaction
    * policy set via `ALTER TABLE ... SET TBLPROPERTIES` is honored by
    * EVERY writer session, not just the one that remembered to set a
    * conf. Props are read once per CommitLog handle (a knob changed
    * mid-handle applies from the next handle — maintenance hooks are
    * best-effort by contract).
    */
  private lazy val tableProps: Map[String, String] =
    try tableMeta.props
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Declare (merge into) this table's `TBLPROPERTIES` (the descriptor's
    * props, [[TableMeta]] — what the V2 catalog's `ALTER TABLE ...
    * SET TBLPROPERTIES` writes), for tables addressed by root rather
    * than by catalog identifier. The table-scoped way to declare
    * maintenance policies ([[maintenanceConf]]): a knob set here is
    * honored by EVERY writer session and never leaks into other tables'
    * commits the way a session conf does. Props are read once per
    * CommitLog handle — set them before the handle's first
    * maintenance-triggering publish, or use a fresh handle.
    */
  def setProperties(props: Map[String, String]): Unit =
    TableMeta.update(hfs, tableRoot)(m => m.copy(props = m.props ++ props)): Unit

  private def maintenanceConf(key: String, default: String): String =
    spark.conf.getOption(key).orElse(tableProps.get(key)).getOrElse(default)

  /** Publish-time small-file compaction ([[hook]], opt-in:
    * `spark.graft.autoCompact.minSmallFiles=N`; unset/0 disables): once
    * a commit leaves >= N data files below
    * `spark.graft.autoCompact.targetBytes` (default 128 MB) in the new
    * manifest, run the incremental [[compact]] — the lakehouse
    * auto-compaction posture, closing the maintenance loop the TTL and
    * index hooks already cover so a streaming writer's small files fold
    * without a scheduler. The small-file census reads the manifest's
    * commit-time `_b` byte tags — ZERO filesystem calls on the hook's
    * fast path. Conservative by construction: a snapshot carrying
    * merge-on-read tombstones is skipped (its debt folds through
    * [[rewriteDeletes]] on the owner's schedule — the hook must never
    * escalate a cheap append into a full-table rewrite).
    */
  private def autoCompact(m: Manifest): Boolean = hook(compacting) {
    val minSmall = maintenanceConf("spark.graft.autoCompact.minSmallFiles", "0").toInt
    minSmall > 0 && m.dvs.isEmpty && {
      val target = maintenanceConf("spark.graft.autoCompact.targetBytes",
        String.valueOf(128L * 1024 * 1024)).toLong
      m.data.count(e => !e.absolute && e.bytes.exists(_ < target)) >= minSmall && {
        val (b, a) = compact(target); a < b
      }
    }
  }

  /** Publish-time vacuum ([[hook]], opt-in:
    * `spark.graft.vacuum.retentionMs=N`, session conf or TBLPROPERTIES;
    * unset/0 disables): versions older than the declared retention drop
    * — and their unreferenced pool files, `_tmp` staging orphans,
    * superseded index builds, and consumer-released `_cdf` staging
    * reclaim — as commits land, the last maintenance plane that still
    * required an operator's cron. The fast path is ONE metadata probe
    * (the oldest retained manifest's mtime); the full sweep runs only
    * when the window has actually released a version. `keepVersions` is
    * derived so every version younger than the horizon is retained:
    * the policy reclaims only what the declared window has released,
    * and every guard [[vacuum]] itself enforces — tag pins, the clone
    * registry, the in-flight file-age floor, the young-version refusal
    * — stays in force (a refusal, like any hook failure, degrades
    * silently to the manual `vacuum()` path).
    */
  private def autoVacuum(): Boolean = hook(vacuumRunning) {
    val retention = maintenanceConf("spark.graft.vacuum.retentionMs", "0").toLong
    val versions = if (retention <= 0) Nil else committedVersions.sorted
    val horizon = System.currentTimeMillis() - retention
    // the oldest retained version still young: nothing to drop
    versions.length > 1 && commitTime(versions.head) <= horizon && {
      // mirror vacuum's own pin set: a tag-pinned version past the
      // horizon is NOT droppable, so it must not keep the hook from
      // short-circuiting — otherwise every publish after the pin pays a
      // full sweep (recursive listing + live-set build) that reclaims
      // nothing
      val pinned = refs.valuesIterator.collect {
        case r if r.kind == "tag" => r.version
      }.toSet
      val droppable = versions.dropRight(1)
        .count(v => !pinned(v) && commitTime(v) <= horizon)
      droppable > 0 && {
        val (m, f) = vacuum(keepVersions = versions.length - droppable,
          minVersionAgeMs = retention)
        m + f > 0
      }
    }
  }

  /** Publish-time tombstone fold ([[hook]], opt-in:
    * `spark.graft.rewriteDeletes.maxDebtRatio=R`, session conf or
    * TBLPROPERTIES; unset/0 disables): once a commit leaves
    * deletion-vector rows >= R × the live data rows, run
    * [[rewriteDeletes]] — closing the one maintenance plane the
    * auto-compact / auto-TTL / index hooks did not yet cover. Without
    * it the standing-CDC-replica steady state degrades monotonically:
    * [[applyChangesMoR]] appends (file,pos) tombstones every drained
    * version and folding was manual-only (`CALL
    * graft.system.rewrite_deletes`), so a replica drained every few
    * minutes accumulates unbounded anti-join read debt until an
    * operator remembers. The debt census reads the manifest's
    * commit-time `_n` row tags on the `-`-prefixed DV lines vs the data
    * lines — ZERO filesystem calls on the fast path. Composes with
    * [[autoCompact]]: that hook deliberately skips tombstoned snapshots,
    * but the FOLD's publish carries no DV lines, so its small-file census
    * runs — a replica past both thresholds folds and compacts in one
    * publish cascade.
    */
  private def autoRewriteDeletes(m: Manifest): Boolean = hook(deleteFolding) {
    val ratio = maintenanceConf("spark.graft.rewriteDeletes.maxDebtRatio", "0").toDouble
    lazy val debt = m.dvs.map(_.rows.getOrElse(0L)).sum
    // the declared ratio is debt vs LIVE rows: stored rows still count
    // their already-tombstoned copies, so dividing by `data` would
    // understate the ratio (debt/(live+debt)) exactly when debt is
    // heaviest and the fold matters most
    lazy val live = math.max(m.data.map(_.rows.getOrElse(0L)).sum - debt, 1L)
    ratio > 0 && debt > 0L && debt.toDouble >= ratio * live.toDouble && {
      rewriteDeletes(): Unit
      true
    }
  }

  /** Publish-time TTL enforcement ([[hook]], opt-in:
    * `spark.graft.ttl.autoEnforce=true`): a table carrying a standing
    * `#ttl:` policy expires its aged rows as commits land — the declared
    * "engine applies retention" posture with no scheduler in the loop
    * (reference grounding: asset registries carry lifecycle config the
    * platform, not an operator, applies). Enforcement is usually a
    * metadata-only manifest edit (stats-tier whole-file drops), and a
    * failure degrades to the manual `CALL enforce_ttl` path.
    */
  private def autoEnforceTtl(m: Manifest): Boolean = hook(ttlEnforcing) {
    maintenanceConf("spark.graft.ttl.autoEnforce", "false") == "true" &&
      m.has(Manifest.Ttl) && {
        // deterministic-maintenance escape hatch: `spark.graft.ttl.asOfMs`
        // pins the enforcement clock (tests, replayed pipelines, frozen
        // benchmarks); production leaves it unset = wall clock
        val asOf = maintenanceConf("spark.graft.ttl.asOfMs", "").trim match {
          case "" => System.currentTimeMillis()
          case s  => s.toLong
        }
        val (d, r) = enforceTtl(asOf)
        d + r > 0
      }
  }

  /** Apply every maintenance policy this table DECLARES (session conf
    * or TBLPROPERTIES) against the CURRENT head — the cold-table
    * companion to the publish-time hooks. Every hook fires only on the
    * commit path, so a table that stops receiving writes right after a
    * heavy MoR/CDC burst keeps its tombstone debt, small files, and
    * expired-TTL rows forever; one `maintain()` call (or `CALL
    * graft.system.maintain_all(ns)` walking a whole namespace) services
    * that debt under the exact same opt-in knobs, reentrancy guards,
    * zero-FS-call censuses, and degrade-to-manual contracts the hooks
    * use — a table with no declared policy is NEVER touched. The order
    * mirrors the publish cascade (TTL can create tombstones and small
    * files; the fold's rewrite feeds the small-file census; vacuum
    * last reclaims what the others superseded), re-reading the head
    * between planes because each one may publish. Returns the planes
    * that acted.
    */
  def maintain(): Seq[String] = {
    if (currentVersion.isEmpty) return Seq.empty
    val acted = scala.collection.mutable.ArrayBuffer.empty[String]
    def head = currentVersion.map(manifest).getOrElse(Manifest.empty)
    if (autoEnforceTtl(head)) acted += "ttl"
    if (autoRewriteDeletes(head)) acted += "rewrite_deletes"
    if (autoCompact(head)) acted += "compact"
    if (autoVacuum()) acted += "vacuum"
    acted.toSeq
  }

  /** Candidate-count ceiling above which touched-file discovery trusts
    * footer stats alone (no exact refinement scan). Overridable for
    * tests and for tables whose clustering makes stats near-exact.
    */
  protected def touchRefineCap: Int = 4096

  /** Ceiling on driver-fetched distinct file NAMES ([[collectNames]]).
    * The manifest itself is driver-resident O(files), so any in-bounds
    * fetch is dominated by state the driver already holds; the cap is a
    * loud backstop against a runaway set (a 100 TB table at 128 MB
    * files is ~10⁶ names — the default leaves 4× headroom). Overridable
    * for tests.
    */
  protected def nameCollectCap: Int = 4 * 1024 * 1024

  /** Distinct values of `c`, deduplicated within each partition and
    * unioned on the driver: one job and no exchange, where a `distinct`
    * plans a shuffle (a map-stage job plus a final one). The driver gets
    * each name at most once per partition, and at most
    * [[nameCollectCap]] + 1 names from any partition. For the names of
    * the files a scan reads ([[findTouched]], [[touchedBy]]) that is at
    * most one per split; for a tombstone scan, at most the named data
    * files per partition: metadata-scale either way. Names arrive as
    * ROWS, never `collect_set` into one giant array cell (a single row
    * whose one value holds every name trips driver single-object limits
    * long before the same names as a row stream would). Throws loudly
    * past [[nameCollectCap]] instead of OOMing the driver.
    */
  private def collectNames(df: DataFrame, c: String, what: String): Set[String] = {
    val cap = nameCollectCap
    val names = df.select(col(c)).filter(col(c).isNotNull)
      .as(org.apache.spark.sql.Encoders.STRING)
      .mapPartitions(CommitLog.distinctWithin(cap))(org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    if (names.size > cap) throw new IllegalStateException(
      s"$what: more than $cap distinct file names under $tableRoot — " +
        "refusing to materialize the set on the driver; compact the table " +
        "or raise nameCollectCap")
    names
  }

  /** Pool files of `m` that CONTAIN at least one of `keys`. `keys` is
    * the write batch's key set, taken once before the head race
    * ([[CommitLog.keysOf]]), so this probe re-runs no plan of a
    * driver-held batch. Footer-stats overlap with the keys' bounds comes
    * first (no I/O and no job: bounds and manifest are on the driver),
    * then an exact semi-join with `input_file_name()` over just the
    * candidates, read through the head's `schema` (no inference job),
    * reduced to distinct file names ([[collectNames]]) — per-row data
    * never reaches the driver. `refineCap` bounds the refined candidates: past the cap the
    * exact refinement is skipped and the stats-overlap set stands as the
    * touched set (correct — a candidate with no matched key is rewritten
    * byte-identical — at the price of extra rewrite, the right trade once
    * the refinement scan itself would rival the rewrite it prunes).
    */
  private def findTouched(m: Manifest, keys: CommitLog.BatchKeys, keyCol: String,
      schema: => org.apache.spark.sql.types.StructType, refineCap: Int = touchRefineCap,
      partTypes: Map[String, String]): Set[String] = {
    val candidates = keyCandidates(m, keys, keyCol)
    if (candidates.isEmpty) Set.empty
    else if (candidates.length > refineCap) candidates.toSet
    else {
      // the refine scan yields LEAF paths (input_file metadata); on a
      // hive-partitioned pool the manifest names carry subdirs, so map
      // leaves back (leaves are uuid-unique across partition subdirs).
      // basePath keeps partition columns readable when keyCol IS one,
      // and the castParts pin makes their type match the key frame's
      // instead of drifting with path inference over the read set.
      val byLeaf = candidates.map(n => leafOf(n) -> n).toMap
      collectNames(
        castParts(pool(m.dataEntries(candidates), schema = Some(schema)), partTypes)
          .withColumn("_graft_file", input_file_name())
          .join(keys.frame, Seq(keyCol), "semi"),
        "_graft_file", "findTouched")
        .flatMap(p => byLeaf.get(leafOf(p)))
    }
  }

  /** Data files of `m` whose footer stats admit every `(column, lo, hi)`
    * range — the stats tier of every file-skipping read and touched-file
    * discovery, pure driver metadata with no data I/O. A file without a
    * bound on a column stays a candidate.
    */
  private def statsCandidates(m: Manifest, ranges: Seq[(String, Any, Any)]): Seq[String] = {
    val stats = m.fileStats
    m.dataNames.filter(n => ranges.forall { case (c, lo, hi) =>
      stats.get(n).flatMap(_.get(c)).forall(_.overlaps(lo, hi))
    })
  }

  /** [[statsCandidates]] for the [min, max] range of `keys`; empty when
    * the batch has no non-null key.
    */
  private def keyCandidates(m: Manifest, keys: CommitLog.BatchKeys, keyCol: String): Seq[String] =
    keys.bounds.fold(Seq.empty[String]) { case (lo, hi) =>
      statsCandidates(m, Seq((keyCol, lo, hi)))
    }

  /** The head's visible rows in the files whose `keyCol` stats admit
    * `keys` ([[keyCandidates]]), tombstones applied, read through the
    * head's whole schema ([[snapshotSchema]]) and shaped as [[read]]
    * shapes the snapshot. None, at no job, when no file can hold a key or
    * nothing is committed. A superset of the keys' rows: the caller joins
    * `keys.frame`.
    */
  private[catalog] def keyCandidateRows(keys: CommitLog.BatchKeys,
      keyCol: String): Option[DataFrame] =
    currentVersion.flatMap { v =>
      val m = manifest(v)
      val candidates = keyCandidates(m, keys, keyCol)
      Option.when(candidates.nonEmpty) {
        val meta = tableMeta
        withoutLayout(readFiles(m.dataEntries(candidates), dvFrameOf(m.dvNames),
          partTypesOf(m), meta, snapshotSchema(m, meta)), transformsFor(m, meta))
      }
    }

  /** Whether the head holds a visible row whose `keyCol` is one of `keys`.
    * Exact: one semi-join over the key candidates ([[keyCandidateRows]])
    * answers; there is no refine cap. Keys outside every file's bounds
    * cost no job.
    */
  private[catalog] def holdsAnyKey(keys: CommitLog.BatchKeys, keyCol: String): Boolean =
    keyCandidateRows(keys, keyCol).exists(!_.join(keys.frame, Seq(keyCol), "semi").isEmpty)

  /** Data files of `m` holding a VISIBLE row that matches `cond` — the
    * predicate twin of [[findTouched]] behind [[rewriteWhere]] and
    * [[updateWhere]]: one predicate-pushed scan (parquet row-group stats
    * prune the probe) reduced to distinct file names, metadata-scale on
    * the driver. A file whose only matching rows are already tombstoned
    * by `dv` is not touched. Discovery yields LEAF names (what input-file
    * metadata exposes), which normalize to manifest names exactly (leaves
    * are uuid-unique); castParts pins partition-column types so a
    * predicate on a string partition column compares lexically, matching
    * the stats tier. `visible` is the head's visible rows with their
    * (file, position) keys, read through its schema.
    */
  private def touchedBy(m: Manifest, visible: => DataFrame,
      cond: org.apache.spark.sql.Column, op: String): Set[String] = {
    val names = m.dataNames
    if (names.isEmpty) Set.empty
    else {
      val leaves = collectNames(visible.filter(cond), DvKeys.head, op)
      names.filter(n => leaves(leafOf(n))).toSet
    }
  }


  /** Exact (bytes, rows) of a retained version. Bytes/rows come from the
    * manifest's commit-time `_n`/`_b` tags — zero filesystem calls on the
    * planner path (at 100 TB, re-listing the pool per query would be the
    * cost this avoids); a pre-tag line falls back to one FileStatus call
    * and reports rows as unknown. Rows are also unknown when the version
    * carries merge-on-read tombstones (visible rows < stored rows).
    */
  def snapshotStats(v: Long): (Long, Option[Long]) = {
    val m = manifest(v)
    var bytes = 0L; var rows = 0L; var rowsKnown = m.dvs.isEmpty
    m.data.foreach { e =>
      bytes += bytesOf(e)
      e.rows match { case Some(x) => rows += x; case None => rowsKnown = false }
    }
    (bytes, if (rowsKnown) Some(rows) else None)
  }

  /** Size of a pool file: its entry's commit-time `_b` tag, or one
    * FileStatus call for a pre-tag line.
    */
  private def bytesOf(e: Entry): Long =
    e.bytes.getOrElse(hfs.getFileStatus(new Path(dataDir, e.name)).getLen)

  /** Output file count of a rewrite of `bytes` at `targetFileBytes` each. */
  private def fileCount(bytes: Long, targetFileBytes: Long): Int =
    math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)

  /** Exact snapshot-wide bounds of `column` from the manifest's per-file
    * footer stats, or None unless EVERY data file of version `v` carries
    * a bound for it and the snapshot has no merge-on-read tombstones (a
    * DV could delete the extreme row). A file whose footer omitted the
    * bound — all-NULL column, pre-stats commit, foreign import — makes
    * the whole answer None: metadata answers are exact or absent, never
    * a guess.
    */
  private[graft] def snapshotBounds(v: Long, column: String): Option[ColStats] = {
    val m = manifest(v)
    if (m.dvs.nonEmpty || m.data.isEmpty) return None
    val stats = m.fileStats
    val bounds = m.dataNames.map(n => stats.get(n).flatMap(_.get(column)))
    if (bounds.exists(_.isEmpty)) return None
    Some(bounds.flatten.reduce(ColStats.widen))
  }

  /** File-skipping range read: rows of the current version with `column`
    * in [lo, hi], scanning ONLY the pool files whose footer min/max
    * overlap the range — the plain-parquet kernel of Delta/Iceberg data
    * skipping. On a range-clustered 100 TB table this turns a full scan
    * into a handful of file reads; files without recorded stats are
    * conservatively scanned. An empty candidate set short-circuits to an
    * empty frame without touching storage.
    */
  def readBetween(column: String, lo: Any, hi: Any): DataFrame =
    readWhere(Seq((column, lo, hi)))

  /** Conjunctive multi-column file-skipping read: rows with EVERY listed
    * column in its [lo, hi] range, scanning only pool files whose footer
    * stats overlap ALL the ranges — a file is pruned as soon as ONE
    * dimension rules it out, so selectivity multiplies across dimensions.
    * On a 1-D range-clustered table only the cluster column prunes; after
    * [[optimizeZOrder]] every z-ordered dimension carries narrow per-file
    * bounds and a 2-D selective query touches ~(sel_x × sel_y) of the
    * files instead of ~sel_x.
    */
  def readWhere(ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "readWhere: at least one (column, lo, hi) range")
    val v = committedHead()
    val m = manifest(v)   // one read serves stats, data, dv names
    val names = m.dataNames
    val candidates = statsCandidates(m, ranges)
    val pred = ranges.map { case (c, lo, hi) => col(c).between(lit(lo), lit(hi)) }
      .reduce(_ && _)
    if (names.isEmpty) readVersion(v)
    // all files pruned: zero-row frame with the table schema, no scan
    // (OptimizeLimitZero folds the limit-0 into an empty relation)
    else if (candidates.isEmpty) readVersion(v).filter(pred).limit(0)
    else {
      val meta = tableMeta
      readFiles(m.dataEntries(candidates), dvFrameOf(m.dvNames), partTypesOf(m), meta,
        snapshotSchema(m, meta)).filter(pred)
    }
  }

  /** Copy-on-write MERGE (upsert by key): rows of `updates` replace
    * same-key rows and new keys append — but only the pool files that
    * actually CONTAIN a matched key are rewritten; every untouched file is
    * carried into the new manifest by name, stats intact. Touched files
    * are found in two steps: footer-stats range overlap first (no I/O),
    * then an exact semi-join over just the candidate files — so a merge
    * into a range-clustered table costs O(files touched), not O(table),
    * which is what makes daily upserts viable at 100 TB. On a
    * hive-partitioned table the rewrite restages under the partition
    * subdirs (layout and `#partition` header survive); when the merge
    * key is a partition column, the partition-value stats prune the
    * touched set to exactly the hit partitions before any I/O.
    *
    * A lost head race lands the rewrite unchanged unless a racing file
    * can hold a batch key or a racing tombstone falls on a rewritten file
    * ([[headRace]] step 4); then it recomputes. Updates must carry the
    * table's schema; with `evolve = true` the batch may ALSO carry new
    * columns — the table schema widens in the same commit (existing rows
    * read the new columns as NULL through the pool's mergeSchema read;
    * untouched files are never rewritten for a schema change). The
    * upstream-added-a-field case a long-lived CDC pipeline hits first.
    */
  def merge(updates0: DataFrame, keyCol: String, maxAttempts: Int = 5,
      evolve: Boolean = false): Long = {
    val (updates, keys) = keyedUpdates(updates0, keyCol, "merge")
    val gate = new ConstraintGate
    headRace("merge", "merge", maxAttempts, requireHead) { (_, head) =>
      val partTypes = partTypesOf(head)
      val b = keyedBatch(updates, head, evolve, "merge", "updates")
      // only the incoming rows can newly violate
      gate(head.checks)(enforceConstraints(b.rows, _, "merge", b.schema))
      val touched = findTouched(head, keys, keyCol, b.schema, partTypes = partTypes)
      val kept = head.filterEntries(e => e.dv || !touched(e.name))
      val merged =
        if (touched.isEmpty) b.applied
        // tombstones apply BEFORE the key anti-join: a MoR-deleted row
        // must not resurrect through the rewrite. The head schema reads a
        // column a touched file predates as NULL; under evolution the
        // survivors pad the batch's new columns (allowMissingColumns)
        else readFiles(head.dataEntries(touched.toSeq.sorted), dvFrameOf(head.dvNames),
            partTypes, schema = Some(b.schema))
          .join(keys.frame, Seq(keyCol), "left_anti")
          .select(b.cols.map(col): _*)
          .unionByName(b.applied, allowMissingColumns = true)
      // A hive-partitioned head restages under its partition subdirs
      // (the #partition header rides the kept lines), so an upsert into one
      // partition rewrites only that partition's touched files and the
      // layout survives — no flatten, no full-table rewrite.
      publishAt(b.evolved(kept) ++ stage(merged, head.partitionColumns, "merge"),
        keyMatch(keys, keyCol))
    }
  }

  /** `updates0` with its hidden-partition layout columns derived (callers
    * hand SOURCE columns only, never `_p_*`), and its keys; refused when a
    * key repeats. This is where a keyed write's batch is evaluated, once,
    * before the head race ([[CommitLog.evaluated]]): every attempt's
    * duplicate check, constraint check, touched-file probe and stage write
    * read these rows, never the caller's plan again. The exception is a
    * deterministic batch too large for the driver, whose plan each step
    * re-runs.
    */
  private def keyedUpdates(updates0: DataFrame, keyCol: String,
      op: String): (DataFrame, CommitLog.BatchKeys) = {
    val updates = CommitLog.evaluated(applyTransforms(updates0))
    val keys = CommitLog.keysOf(updates, keyCol)
    require(!keys.duplicated, s"$op: duplicate keys in the updates batch")
    (updates, keys)
  }

  /** The one prologue of the keyed writes ([[merge]], [[mergeMoR]],
    * [[applyChangesMoR]]): check `batch` against the head it lands on.
    * Without `evolve` it must carry exactly the table's columns; with it,
    * it may ADD columns — the table schema widens in the same commit
    * ([[evolveHeader]]) — but must keep every existing one. Existing
    * columns align to the table's types ([[alignTypes]]). `noun` names
    * the batch in the messages.
    */
  private def keyedBatch(batch: DataFrame, head: Manifest, evolve: Boolean,
      op: String, noun: String): KeyedBatch = {
    val schema = schemaOf(head)
    val cols = schema.fieldNames.toSeq
    if (evolve) {
      val missing = cols.filterNot(batch.columns.contains)
      require(missing.isEmpty, s"$op(evolve): $noun must still carry every " +
        s"existing column (missing $missing); evolution ADDS columns")
    } else require(batch.columns.toSet == cols.toSet,
      s"$op: $noun schema ${batch.columns.toSeq} != table schema $cols")
    KeyedBatch(alignTypes(batch, schema, op), schema,
      if (evolve) batch.columns.filterNot(cols.contains).toSeq else Seq.empty)
  }

  /** A [[keyedBatch]]: `rows` aligned to the table `schema`, and the
    * columns the batch adds. `schema` is inferred once per attempt and
    * serves every read of the head in that attempt.
    */
  private case class KeyedBatch(rows: DataFrame,
      schema: org.apache.spark.sql.types.StructType, newCols: Seq[String]) {
    /** The table's columns. */
    def cols: Seq[String] = schema.fieldNames.toSeq
    /** The rows in output order: the table's columns, then the new ones. */
    def applied: DataFrame = onePart(rows.select((cols ++ newCols).map(col): _*))
    /** `m` under the widened `#schema:` header when the batch adds columns. */
    def evolved(m: Manifest): Manifest = evolveHeader(m, schema, newCols, rows)
  }

  /** Copy-on-write keyed DELETE: drop every row whose `keyCol` is in
    * `keys0`, rewriting ONLY the pool files that contain one (same
    * two-step touched-file discovery as [[merge]]). A delete that
    * touches nothing returns the current version without committing —
    * no write amplification for misses.
    * Combined with an aged [[vacuum]] this is the right-to-erasure path:
    * once old versions expire, no surviving pool file holds the key.
    */
  def deleteKeys(keys0: DataFrame, keyCol: String, maxAttempts: Int = 5): Long = {
    val keys = CommitLog.keysOf(CommitLog.evaluated(keys0.select(keyCol)), keyCol)
    headRace("delete", "delete", maxAttempts, requireHead) { (v, head) =>
      val partTypes = partTypesOf(head)
      lazy val schema = schemaOf(head)
      val touched = findTouched(head, keys, keyCol, schema, partTypes = partTypes)
      if (touched.isEmpty) Settle(v)
      else {
        val kept = head.filterEntries(e => e.dv || !touched(e.name))
        val survivors = readFiles(head.dataEntries(touched.toSeq.sorted),
            dvFrameOf(head.dvNames), partTypes, schema = Some(schema))
          .join(keys.frame, Seq(keyCol), "left_anti")
          .select(schema.fieldNames.toSeq.map(col): _*)
        // partitioned survivors restage under their subdirs (see merge)
        publishAt(kept ++ stage(survivors, head.partitionColumns, "delete"),
          keyMatch(keys, keyCol))
      }
    }
  }

  /** Copy-on-write rewrite of exactly the files containing rows matching
    * `cond`, replacing them with their survivors plus (optionally)
    * `extra` rows, in ONE atomic commit — the engine behind the SQL
    * catalog's `DELETE FROM ... WHERE` and filter-overwrite
    * ([[GraftTableCatalog]]). Unlike [[deleteKeys]] (equality on one key
    * column), the predicate is arbitrary, so touched-file discovery is a
    * predicate-pushed scan over the snapshot (parquet row-group stats
    * prune the probe) reduced to a single `collect_set` row of file
    * names — metadata-scale on the driver, never row-scale. Untouched
    * files are carried by name; `#` headers (txn memory) survive.
    */
  def rewriteWhere(cond: org.apache.spark.sql.Column, extra: Option[DataFrame],
      maxAttempts: Int = 5, op: String = "rewrite"): Long = {
    import org.apache.spark.sql.functions.coalesce
    headRace("rewriteWhere", op, maxAttempts, requireHead) { (v, head) =>
      val partCols = head.partitionColumns
      val dv = dvFrameOf(head.dvNames)
      val schema = schemaOf(head)
      lazy val visible =
        castParts(visibleWithPos(head.data, dv, Some(schema)), partTypesOf(head))
      val touched = touchedBy(head, visible, cond, "rewriteWhere")
      if (touched.isEmpty && extra.isEmpty) Settle(v)
      else {
        val kept = head.filterEntries(e => e.dv || !touched(e.name))
        // partitioned snapshots restage survivors and extras UNDER their
        // `c=v` subdirs — predicate CoW keeps the layout like merge does
        val survivorEntries =
          if (touched.isEmpty) Seq.empty
          else {
            val survivors = readFiles(head.dataEntries(touched.toSeq.sorted), dv,
                partTypesOf(head), schema = Some(schema))
              // SQL DELETE semantics: rows where the predicate is NULL survive
              .filter(!coalesce(cond, lit(false)))
              .select(schema.fieldNames.toSeq.map(col): _*)
            stage(survivors, partCols, "rewriteWhere")
          }
        // survivors cannot newly violate; only the injected rows can
        extra.foreach(enforceConstraints(_, head.checks, "rewriteWhere", schema))
        // injected rows on a transform-partitioned table carry SOURCE
        // columns only — derive their layout columns before staging
        val extraEntries = extra.map(e => stage(applyTransforms(e), partCols, "rewriteWhere"))
          .getOrElse(Seq.empty)
        publishAt(kept ++ survivorEntries ++ extraEntries,
          if (head.data.isEmpty) None else predicateMatch(visible, cond))
      }
    }
  }

  /** `DELETE FROM ... WHERE cond` as a predicate CoW commit. */
  def deleteWhere(cond: org.apache.spark.sql.Column, maxAttempts: Int = 5): Long =
    rewriteWhere(cond, None, maxAttempts, op = "delete")

  /** `UPDATE ... SET col = expr ... WHERE cond` as a predicate CoW
    * commit: only the files containing a matching row are rewritten —
    * matched rows re-stage with the set-expressions applied, the other
    * rows of touched files copy through byte-identical, and every
    * untouched file is carried by name. O(files touched), never
    * O(table): the tier a point update against a large append-mostly
    * table (an audit-log status correction) needs, vs. a whole-table
    * replace that rewrites every byte for one row.
    *
    * An append that wins a version mid-update survives: the rewrite lands
    * on it unchanged when its stats rule out a match, else recomputes
    * ([[headRace]] step 4). All set-expressions
    * evaluate against the ORIGINAL row (simultaneous-assignment SQL UPDATE
    * semantics), and a NULL predicate leaves the row unchanged. A
    * no-match update returns the current version without committing.
    */
  def updateWhere(cond: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)],
      maxAttempts: Int = 5): Long = {
    import org.apache.spark.sql.functions.{coalesce, when}
    headRace("updateWhere", "update", maxAttempts, requireHead) { (v, head) =>
      val dv = dvFrameOf(head.dvNames)
      val schema = schemaOf(head)
      lazy val visible =
        castParts(visibleWithPos(head.data, dv, Some(schema)), partTypesOf(head))
      val touched = touchedBy(head, visible, cond, "updateWhere")
      if (touched.isEmpty) Settle(v)
      else {
        val kept = head.filterEntries(e => e.dv || !touched(e.name))
        val matched = coalesce(cond, lit(false))
        val setMap = sets.toMap
        // one pass over touched files: every column's new value is chosen
        // against the pre-update row, so SET a=b, b=a swaps correctly
        val rewritten = readFiles(head.dataEntries(touched.toSeq.sorted), dv,
            partTypesOf(head), schema = Some(schema))
          .select(schema.fieldNames.toSeq.map { c =>
            setMap.get(c) match {
              case Some(e) => when(matched, e).otherwise(col(c)).as(c)
              case None    => col(c)
            }
          }: _*)
        // validate the rewrite output (only SET rows can newly violate,
        // but the pass is O(touched files) either way — and zero when the
        // table declares no constraints)
        enforceConstraints(rewritten, head.checks, "updateWhere", schema)
        // a SET on a hidden-partition transform's SOURCE column must
        // re-derive the layout column, or the row stays filed under its
        // old partition and pruning silently goes wrong
        publishAt(kept ++ stage(applyTransforms(rewritten), head.partitionColumns,
          "updateWhere"), predicateMatch(visible, cond))
      }
    }
  }

  /** Merge-on-read UPDATE (update vectors): tombstone the old positions
    * of every visible row matching `cond` AND append the updated copies,
    * in ONE atomic commit — no data file is rewritten. Write cost is
    * O(rows updated) (one pooled file of updated rows + one
    * deletion-vector file), not O(files touched × file size): the tier
    * frequent small updates against a 100 TB table need (the audit-log
    * status-correction pattern), where copy-on-write ([[updateWhere]])
    * rewrites a 128 MB file to change one row. This is the Delta/Iceberg
    * DV + re-insert shape composed from the engine's existing planes:
    * the tombstones ride the [[deleteWhereMoR]] read path, the appended
    * rows are ordinary pool files, and the single manifest publish keeps
    * delete+insert atomic — a reader sees the old rows or the new rows,
    * never both, never neither.
    *
    * Set-expressions evaluate against the ORIGINAL row (simultaneous-
    * assignment UPDATE semantics); matching runs against the VISIBLE
    * snapshot, so re-updating a tombstoned row writes nothing. CHECK
    * constraints validate the updated rows; hidden-partition transforms
    * re-derive their layout columns; a SET on a partition column re-files
    * the row under its new partition directory. The read debt folds
    * through the same maintenance ops as MoR deletes
    * ([[rewriteDeletes]] / [[compact]] / [[optimizeBy]]). A no-match
    * update returns the current version without committing.
    */
  def updateWhereMoR(cond: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)],
      maxAttempts: Int = 5): Long = {
    import org.apache.spark.sql.functions.coalesce
    headRace("updateWhereMoR", "update_mor", maxAttempts, requireHead) { (v, head) =>
      if (head.data.isEmpty) Settle(v)
      else {
        val visible = castParts(visibleWithPos(head.data, dvFrameOf(head.dvNames)),
          partTypesOf(head))
        // matched rows carry their (file, pos) keys AND their data columns,
        // evaluated once: the tombstones and the updated copies come from
        // the same rows, even under a nondeterministic predicate (rand()),
        // and a match set that fits the driver is not scanned again
        val matched = CommitLog.evaluated(visible.filter(coalesce(cond, lit(false))))
        val headSchema = org.apache.spark.sql.types.StructType(
          matched.schema.filterNot(f => DvKeys.contains(f.name)))
        val setMap = sets.toMap
        val updated = matched.select(headSchema.fieldNames.toSeq.map { c =>
          setMap.get(c) match {
            case Some(e) => e.as(c)
            case None    => col(s"`$c`")
          }
        }: _*)
        enforceConstraints(updated, head.checks, "updateWhereMoR", headSchema)
        val dvStaged = stage(onePart(matched.select(DvKeys.map(col): _*)), Nil,
          "updateWhereMoR")
        if (dvStaged.isEmpty) Settle(v)
        else {
          val dataStaged = stage(onePart(applyTransforms(updated)), head.partitionColumns,
            "updateWhereMoR")
          publishAt(head ++ dataStaged ++ dvStaged.map(_.asDv), predicateMatch(visible, cond))
        }
      }
    }
  }

  /** Merge-on-read DELETE: record (file, position) tombstones for every
    * visible row matching `cond` — NO data file is rewritten. The write
    * cost is O(rows deleted), not O(files touched × file size), which is
    * the tier a 100 TB table needs for frequent small deletes (GDPR
    * erasure drips, late-data retractions) where copy-on-write
    * ([[deleteWhere]]) would rewrite a 128 MB file per tombstoned row.
    * Reads apply tombstones as a broadcast anti-join ([[readFiles]]);
    * the read debt is bounded by [[rewriteDeletes]] / [[compact]] /
    * [[optimizeBy]], all of which fold tombstones in and drop them.
    *
    * Matching runs against the VISIBLE snapshot (existing tombstones
    * applied), so re-deleting an already-deleted row writes nothing and
    * the change feed never reports a double delete. A delete that
    * matches nothing returns the current version without committing.
    */
  def deleteWhereMoR(cond: org.apache.spark.sql.Column, maxAttempts: Int = 5): Long = {
    import org.apache.spark.sql.functions.coalesce
    headRace("deleteWhereMoR", "delete_mor", maxAttempts, requireHead) { (v, head) =>
      if (head.data.isEmpty) Settle(v)
      else {
        val visible = visibleWithPos(head.data, dvFrameOf(head.dvNames))
        val staged = stage(visible.filter(coalesce(cond, lit(false)))
          .select(DvKeys.map(col): _*), Nil, "deleteWhereMoR")
        if (staged.isEmpty) Settle(v)
        else publishAt(head ++ staged.map(_.asDv), predicateMatch(visible, cond))
      }
    }
  }

  /** Merge-on-read keyed DELETE: tombstone every visible row whose
    * `keyCol` is in `keys0`. Footer stats bound the probe the same way
    * they bound [[deleteKeys]] — only files whose [min,max] overlaps the
    * key range are scanned for positions — but nothing is rewritten.
    */
  def deleteKeysMoR(keys0: DataFrame, keyCol: String, maxAttempts: Int = 5): Long = {
    val keys = CommitLog.keysOf(CommitLog.evaluated(keys0.select(keyCol)), keyCol)
    headRace("deleteKeysMoR", "delete_mor", maxAttempts, requireHead) { (v, head) =>
      val staged = keyTombstones(head, keys, keyCol, "deleteKeysMoR")
      if (staged.isEmpty) Settle(v) else publishAt(head ++ staged, keyMatch(keys, keyCol))
    }
  }

  /** Stage (file, pos) tombstones for every visible row of the snapshot
    * `m` whose `keyCol` is in `keys` — the probe the keyed MoR paths
    * share — as deletion-vector entries. Footer stats bound it to the
    * files whose [min,max] overlaps the keys' range before any row I/O;
    * empty when nothing matches. `schema` is the head's, when the caller
    * already inferred it.
    */
  private def keyTombstones(m: Manifest, keys: CommitLog.BatchKeys, keyCol: String,
      op: String, schema: Option[org.apache.spark.sql.types.StructType] = None): Seq[Entry] = {
    if (m.data.isEmpty) return Seq.empty
    val candidates = keyCandidates(m, keys, keyCol)
    if (candidates.isEmpty) Seq.empty
    else {
      val visible = visibleWithPos(m.dataEntries(candidates), dvFrameOf(m.dvNames), schema)
      stage(visible.join(keys.frame, Seq(keyCol), "semi")
        .select(DvKeys.map(col): _*), Nil, op).map(_.asDv)
    }
  }

  /** Merge-on-read MERGE (merge vectors): tombstone the old positions of
    * every visible row whose `keyCol` matches the batch AND append the
    * whole updates batch (replaced rows + new-key inserts), in ONE atomic
    * commit — no data file is rewritten. Write cost is O(rows in the
    * batch) (one pooled file of applied rows + one deletion-vector file),
    * not O(files touched × file size): the tier a continuously-applied
    * CDC upsert against a 100 TB table needs (the reference's guarded
    * upsert, reference lambda_function.py:33-44, run as a stream), where
    * copy-on-write [[merge]] rewrites a 128 MB file per small batch.
    *
    * Composition of proven planes: the tombstone probe is
    * [[deleteKeysMoR]]'s footer-stats-bounded semi-join (only files whose
    * [min,max] overlaps the batch's key range are scanned for positions),
    * the appended rows are ordinary pool files with CHECK constraints and
    * hidden-partition transforms applied ([[updateWhereMoR]]'s write
    * side), and the single manifest publish keeps delete+insert atomic —
    * a reader sees the pre-merge rows or the post-merge rows, never both.
    * The read debt folds through [[rewriteDeletes]] / [[compact]] /
    * [[optimizeBy]] like every MoR commit; [[changesBetween]] nets the
    * merge as tombstone-deletes + added-file inserts with no special
    * casing. An empty batch returns the current version without
    * committing.
    */
  def mergeMoR(updates0: DataFrame, keyCol: String, maxAttempts: Int = 5,
      evolve: Boolean = false): Long = {
    val (updates, keys) = keyedUpdates(updates0, keyCol, "mergeMoR")
    val gate = new ConstraintGate
    headRace("mergeMoR", "merge_mor", maxAttempts, requireHead) { (v, head) =>
      // schema evolution mirrors [[merge]]: appended rows carry the new
      // columns, existing files stay untouched and read them as NULL
      val b = keyedBatch(updates, head, evolve, "mergeMoR", "updates")
      gate(head.checks)(enforceConstraints(b.rows, _, "mergeMoR", b.schema))
      // tombstone the old positions of matched keys
      val dvStaged = keyTombstones(head, keys, keyCol, "mergeMoR", Some(b.schema))
      val dataStaged = stage(b.applied, head.partitionColumns, "mergeMoR")
      if (dvStaged.isEmpty && dataStaged.isEmpty) Settle(v)
      else publishAt(b.evolved(head) ++ dataStaged ++ dvStaged, keyMatch(keys, keyCol))
    }
  }

  /** Apply one change-data set — tombstone these keys, append these
    * rows — as merge-on-read vectors in ONE atomic, txn-guarded publish:
    * the replication primitive a change-feed consumer needs
    * ([[graft.stream.Replicate]]). A CDC version's emission is
    * delete-rows + insert-rows over a keyed table (an update is its
    * key in both sets; a CoW file rewrite re-lists survivors as
    * delete+insert pairs that net to identity), and applying both sides
    * in one commit makes the target transition atomic: a reader sees the
    * source version fully applied or not at all, never a torn middle.
    *
    * Exactly-once: `txn` (the SOURCE commit version, stamped by the
    * feed) is checked against the head manifest on every attempt and
    * recorded atomically with the change — a redelivered micro-batch
    * (restart, retry storm) skips versions whose ids already landed,
    * the same `#txn:` seam every streaming writer here uses. The id is
    * recorded EVEN when the change set nets to nothing, so "was this
    * version applied" never depends on whether it happened to be empty.
    *
    * Write cost is O(rows changed) — the tombstone probe is
    * [[deleteKeysMoR]]'s footer-stats-bounded semi-join, the appended
    * rows are ordinary pool files with CHECK constraints and
    * hidden-partition transforms applied — never O(table). The read debt
    * folds through [[rewriteDeletes]] / [[compact]] like every MoR
    * commit. Reference grounding: the R2 guarded upsert
    * (lambda_function.py:33-44) applied continuously downstream of the
    * processed-changes feed (cft/sourceSystem.yaml:29-63).
    */
  def applyChangesMoR(deleteKeys0: DataFrame, inserts0: DataFrame,
      keyCol: String, txn: Option[String] = None,
      maxAttempts: Int = 5, evolve: Boolean = false): Long = {
    for (v <- appliedAt(txn)) return v
    // both sides evaluated once, like [[keyedUpdates]]' batch
    val inserts = CommitLog.evaluated(applyTransforms(inserts0))
    val deleted = CommitLog.keysOf(CommitLog.evaluated(deleteKeys0.select(keyCol)), keyCol)
    val gate = new ConstraintGate
    headRace("applyChangesMoR", "cdc_apply", maxAttempts, requireHead) { (v, head) =>
      if (txn.exists(head.hasTxn)) Settle(v)
      else {
        // schema evolution mirrors [[mergeMoR]]: a CDC replica must track its
        // source through the source's own evolving merges ([[graft.stream.Replicate]])
        val b = keyedBatch(inserts, head, evolve, "applyChangesMoR", "inserts")
        gate(head.checks)(enforceConstraints(b.rows, _, "applyChangesMoR", b.schema))
        val dvStaged = keyTombstones(head, deleted, keyCol, "applyChangesMoR",
          Some(b.schema))
        val dataStaged = stage(b.applied, head.partitionColumns, "applyChangesMoR")
        // an empty change set without a txn id is a true no-op; WITH one,
        // the id must still land (skip-on-redelivery has no other memory)
        if (dvStaged.isEmpty && dataStaged.isEmpty && txn.isEmpty) Settle(v)
        else publishAt(b.evolved(head) ++ txn.map(Header.txn) ++ dataStaged ++ dvStaged)
      }
    }
  }

  /** Fold tombstones into the data: rewrite ONLY the data files that
    * carry at least one tombstone (their visible rows survive), carry
    * every untouched file by name, and drop all deletion-vector lines —
    * the maintenance op that converts accumulated read debt back into
    * clean scans. Touched-file discovery is one distributed distinct-agg
    * over the DV files reduced to a file-name list (metadata-scale on
    * the driver, same plane as [[rewriteWhere]]'s discovery). Returns
    * (dvFilesFolded, dataFilesRewritten); a table with no tombstones is
    * a no-op.
    */
  def rewriteDeletes(maxAttempts: Int = 5): (Int, Int) =
    headRace("rewriteDeletes", "rewrite_deletes", maxAttempts, requireHead) { (_, head) =>
      val dvN = head.dvNames
      if (dvN.isEmpty) Settle((0, 0))
      else {
        val dv = dvFrameOf(dvN).get
        val targets = collectNames(dv, DvKeys.head, "rewriteDeletes")
        // stale tombstones may name files a later op already removed;
        // tombstones carry LEAF names, manifests may carry partition subdirs
        val touched = head.dataNames.filter(n => targets(leafOf(n))).toSet
        val kept = head.filterEntries(e => !e.dv && !touched(e.name))
        // a partitioned table's survivors restage UNDER their partition
        // subdirs (basePath read keeps the columns; partitionBy re-lays
        // them out) so the fold never flattens the layout. The
        // schema-typed partition cast matters doubly here: the fold
        // REWRITES survivors, so an inference-drifted type would bake the
        // wrong column type back into the pool files
        val survivorEntries =
          if (touched.isEmpty) Seq.empty
          else stage(readFiles(head.dataEntries(touched.toSeq.sorted), Some(dv),
            partTypesOf(head)), head.partitionColumns, "rewriteDeletes")
        Publish(kept ++ survivorEntries, _ => (dvN.length, touched.size), readsRemovedOnly)
      }
    }

  /** Expire every row with `column` strictly below `cutoff` — the
    * data-lifecycle (TTL / retention) maintenance op, priced by what the
    * manifest already knows instead of what a DELETE would scan:
    *
    *  - a file whose footer max is below the cutoff DROPS from the
    *    manifest with ZERO data I/O — on a time-ordered 100 TB table
    *    (ingest is append-mostly, so files are naturally time-clustered,
    *    and `setClustering`/`optimizeBy` on the time column tighten the
    *    rest) retention becomes a metadata edit, not a table scan;
    *  - a file entirely at-or-above the cutoff carries by name, unread;
    *  - only STRADDLERS (footer range crosses the cutoff, or no recorded
    *    bound — all-NULL column, foreign import) rewrite their surviving
    *    visible rows, CoW-style, under the declared partition layout.
    *
    * One atomic publish covers drops + rewrites: readers see pre- or
    * post-retention, never a torn middle. SQL DELETE semantics for the
    * boundary: a NULL `column` never expires. Deletion vectors are
    * honored on the straddler rewrite (tombstoned rows do not revive);
    * tombstone keys naming dropped files go stale harmlessly — the same
    * tolerance [[rewriteDeletes]] documents. Type discipline at the
    * stats tier: the cutoff compares under each FILE's recorded stats
    * type, and an incomparable rendering demotes the file to straddler
    * (conservative scan) rather than guessing. Dropped versions stay
    * time-travelable until [[vacuum]], like every commit.
    *
    * Returns (filesDropped, filesRewritten); (0, 0) = nothing to expire,
    * no commit published.
    */
  def expireBefore(column: String, cutoff: Any,
      maxAttempts: Int = 5): (Int, Int) = {
    import org.apache.spark.sql.functions.coalesce
    val cut = CommitLog.statsComparable(cutoff)
    headRace("expireBefore", "expire", maxAttempts, requireHead) { (_, head) =>
      val names = head.dataNames
      val stats = head.fileStats
      def cmpSafe(tpe: String, edge: String): Option[Int] =
        scala.util.Try(ColStats.cmp(tpe, edge, cut)).toOption
      val dead = names.filter { n =>
        stats.get(n).flatMap(_.get(column))
          .exists(s => cmpSafe(s.tpe, s.max).exists(_ < 0))
      }.toSet
      val live = names.filter { n =>
        !dead(n) && stats.get(n).flatMap(_.get(column))
          .exists(s => cmpSafe(s.tpe, s.min).exists(_ >= 0))
      }.toSet
      // Set lookups: the manifest filter below is O(lines), not
      // O(lines × straddlers) — at 100 TB the manifest is the file list
      val straddle = names.filterNot(n => dead(n) || live(n))
      val straddleSet = straddle.toSet
      if (dead.isEmpty && straddle.isEmpty) Settle((0, 0))
      else {
        val kept = head.filterEntries(e => e.dv || !(dead(e.name) || straddleSet(e.name)))
        val survivorEntries =
          if (straddle.isEmpty) Seq.empty
          else {
            val schema = schemaOf(head)
            val survivors = readFiles(head.dataEntries(straddle.sorted),
                dvFrameOf(head.dvNames), partTypesOf(head), schema = Some(schema))
              // NULL retention column survives (SQL DELETE semantics)
              .filter(!coalesce(col(column) < lit(cutoff), lit(false)))
              .select(schema.fieldNames.toSeq.map(col): _*)
            stage(survivors, head.partitionColumns, "expire")
          }
        Publish(kept ++ survivorEntries, _ => (dead.size, straddle.size), readsRemovedOnly)
      }
    }
  }

  /** Declare a standing TTL retention policy (`#ttl:` header, carried
    * through replaces/compaction like `#cluster:`): rows whose `column`
    * falls more than `retainMs` behind enforcement time are expirable by
    * [[enforceTtl]]. A policy is table METADATA — declared once, honored
    * by maintenance — matching the reference's per-asset retention
    * posture (asset registries carry lifecycle config; the engine, not a
    * human, applies it). `retainMs <= 0` clears the policy.
    */
  def setTtl(column: String, retainMs: Long): Long =
    headRace("setTtl", "set_ttl") { (_, prev) =>
      if (retainMs > 0 && prev.data.nonEmpty) {
        val have = readManifest(prev).columns.toSet
        require(have.contains(column),
          s"setTtl: unknown column $column (have: ${have.toSeq.sorted})")
      }
      publishAt(if (retainMs <= 0) prev.without(Manifest.Ttl)
        else prev.set(Header.ttl(column, retainMs)))
    }

  /** The TTL policy in force at the head: (column, retainMs). */
  def ttlPolicy: Option[(String, Long)] = currentVersion.flatMap(manifest(_).ttl)

  /** Enforce the declared TTL policy as of `nowMs` (caller-supplied —
    * maintenance stays deterministic and testable; a scheduler passes
    * wall clock). The typed cutoff derives from the retention column's
    * schema type: DATE expires by calendar day, TIMESTAMP by instant,
    * integral columns are read as epoch millis. No policy = no-op.
    */
  def enforceTtl(nowMs: Long): (Int, Int) = ttlPolicy match {
    case None => (0, 0)
    case Some((c, ms)) =>
      val v = currentVersion.getOrElse(return (0, 0))
      if (files(v).isEmpty) return (0, 0)
      import org.apache.spark.sql.types._
      val cutoff: Any = readVersion(v).schema(c).dataType match {
        case DateType => java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(Math.floorDiv(nowMs - ms, 86400000L)))
        case TimestampType | TimestampNTZType =>
          new java.sql.Timestamp(nowMs - ms)
        case LongType | IntegerType => nowMs - ms
        case other => throw new IllegalArgumentException(
          s"enforceTtl: unsupported retention column type $other for $c " +
            "(DATE, TIMESTAMP, or epoch-millis integral)")
      }
      expireBefore(c, cutoff)
  }

  /** Range-cluster the head snapshot on `column` (the 1-D OPTIMIZE /
    * cluster-by maintenance op): rewrite into `ceil(bytes/target)` files
    * partitioned AND sorted by `column`, as a replace commit. After this,
    * every file covers a disjoint range, so [[readBetween]] and the
    * touched-file discovery of [[merge]]/[[deleteKeys]] hit the minimum
    * file set — clustering is what converts footer stats into actual
    * pruning. Same snapshot guarantees as [[compact]]: maintenance and
    * the query plane never race, and a racing append is carried
    * ([[rewriteHead]]). Returns (filesBefore, filesAfter).
    */
  def optimizeBy(column: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val m = manifest(committedHead())
    val partCols = m.partitionColumns
    require(!partCols.contains(column),
      s"optimizeBy: $column is a partition column — constant within every " +
        "c=v dir, clustering on it is a no-op")
    val keys = partCols.map(col) :+ col(column)
    // on a partitioned table the cluster keys LEAD with the partition
    // columns: each shuffle range then holds one partition's value slab,
    // and the hive re-stage keeps the c=v layout — partition-local
    // clustering, never a flat rewrite
    rewriteHead(partCols, op = "optimize", reads = readsRemovedOnly) { head =>
      readManifest(head)
        .repartitionByRange(fileCount(head.data.map(bytesOf).sum, targetFileBytes), keys: _*)
        .sortWithinPartitions(keys: _*)
    }
    (m.data.length, currentFileCount)
  }

  /** Z-order cluster the head snapshot on `columns` (the multi-dimension
    * OPTIMIZE ZORDER maintenance op): rows are range-partitioned and
    * sorted by the Morton interleave of the columns' bits, so each output
    * file covers a small HYPER-RECTANGLE of the value space instead of a
    * slab of one dimension — after this, footer stats are narrow on EVERY
    * z-ordered column at once and a [[readWhere]] selective on two
    * dimensions prunes multiplicatively (1-D clustering can only prune on
    * its own column). This is how a 100 TB fact table serves both
    * `WHERE k1 BETWEEN …` and `WHERE k1 … AND k2 …` from one layout.
    *
    * Each column is scaled to a bit-bucket, then bit i of column j lands
    * at interleaved position `i*k + j`. Two scaling modes:
    *
    *  - `quantileBuckets = 0` (default): min/max LINEAR scaling to 16
    *    bits — one tiny agg, ideal for roughly uniform value spaces.
    *    Under heavy skew this collapses: one outlier stretches the
    *    range and every normal value lands in bucket 0, so the skewed
    *    dimension stops pruning.
    *  - `quantileBuckets = 2^b` (e.g. 256): EQUI-DEPTH scaling — each
    *    column's bucket boundaries are its own approximate quantiles,
    *    so every bucket holds ~the same row count no matter how skewed
    *    the distribution (the documented skew escape hatch, shipped).
    *    The per-row bucket is a codegen'd fold over the broadcast
    *    cutpoint array — still no UDF.
    *
    * The z-value is pure codegen'd shift/mask arithmetic and is dropped
    * before the replace commit, so the table schema is untouched.
    * Non-castable values scale to bucket 0: clustering quality degrades,
    * correctness never (stats pruning remains conservative per file).
    */
  def optimizeZOrder(columns: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      quantileBuckets: Int = 0): (Int, Int) = {
    require(columns.size >= 2, "optimizeZOrder: need >= 2 columns (use optimizeBy for 1)")
    require(quantileBuckets == 0 ||
      (quantileBuckets >= 2 && quantileBuckets <= 65536 &&
        (quantileBuckets & (quantileBuckets - 1)) == 0),
      s"quantileBuckets must be 0 (linear) or a power of two in [2, 65536], got $quantileBuckets")
    val m = manifest(committedHead())
    val partCols = m.partitionColumns
    require(!columns.exists(partCols.contains),
      s"optimizeZOrder: ${columns.filter(partCols.contains)} are partition " +
        "columns — constant within every c=v dir, z-ordering them is a no-op")
    val k = columns.size
    // a try-cast: under ANSI a plain cast of 'v1' to DOUBLE throws, where
    // a non-castable value must scale to bucket 0 like a NULL
    def asDouble(c: String): org.apache.spark.sql.Column = col(c).try_cast("double")
    // the z-value of the rows of `snap`, whose bounds or quantiles scale it
    def zValue(snap: DataFrame): org.apache.spark.sql.Column = {
      val (scaled, bits) =
        if (quantileBuckets == 0) {
          val boundAggs = columns.flatMap(c => Seq(
            org.apache.spark.sql.functions.min(asDouble(c)),
            org.apache.spark.sql.functions.max(asDouble(c))))
          val bounds = snap.agg(boundAggs.head, boundAggs.tail: _*).head()
          (columns.zipWithIndex.map { case (c, j) =>
            val (mn, mx) = (bounds.get(2 * j), bounds.get(2 * j + 1))
            if (mn == null || mx == null || mn == mx) lit(0L)
            else {
              val lo = mn.asInstanceOf[Double]
              val span = mx.asInstanceOf[Double] - lo
              org.apache.spark.sql.functions.coalesce(
                org.apache.spark.sql.functions.floor(
                  (asDouble(c) - lit(lo)) / lit(span) * lit(65535.0)), lit(0L))
            }
          }, 16)
        } else {
          import org.apache.spark.sql.functions.{aggregate, array, floor, when}
          val b = java.lang.Integer.numberOfTrailingZeros(quantileBuckets)
          val probs = (1 until quantileBuckets).map(_.toDouble / quantileBuckets).toArray
          (columns.map { c =>
            // per-column equi-depth cutpoints (approx, one pass per column
            // over the numeric projection; nulls and non-castables excluded
            // and bucketed to 0)
            val cuts = snap.select(asDouble(c).as("_graft_q"))
              .na.drop().stat
              .approxQuantile("_graft_q", probs, 0.25 / quantileBuckets)
              .distinct.sorted
            if (cuts.isEmpty) lit(0L)
            else {
              val raw = aggregate(array(cuts.map(lit(_)).toIndexedSeq: _*), lit(0L),
                (acc, cut) => acc + when(asDouble(c) > cut, 1L).otherwise(0L))
              // the sketch may return far fewer distinct cutpoints than
              // requested (few distinct values, coarse error): stretch the
              // observed bucket range over the FULL bit width, or the top
              // interleave bits would sit constant and the dimension would
              // not participate in the file split
              floor(raw * lit(((1L << b) - 1).toDouble) / lit(cuts.length.toDouble))
                .cast("long")
            }
          }, b)
        }
      (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
        scaled.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
          a.bitwiseOR(org.apache.spark.sql.functions.shiftleft(
            org.apache.spark.sql.functions.shiftright(c, i).bitwiseAND(lit(1L)),
            i * k + j))
        }
      }
    }
    // partitioned tables z-cluster WITHIN each partition: the shuffle
    // keys lead with the partition columns so each range holds one
    // partition's z-slab, and the hive re-stage keeps the c=v layout —
    // pruning on the partition column and on the z-ordered dimensions
    // compose instead of one destroying the other
    val keys = partCols.map(col) :+ col("_graft_z")
    rewriteHead(partCols, op = "optimize", reads = readsRemovedOnly) { head =>
      val snap = readManifest(head)
      snap.withColumn("_graft_z", zValue(snap))
        .repartitionByRange(fileCount(head.data.map(bytesOf).sum, targetFileBytes), keys: _*)
        .sortWithinPartitions(keys: _*)
        .drop("_graft_z")
    }
    (m.data.length, currentFileCount)
  }

  /** Change data feed between two committed versions (`fromV` exclusive,
    * `toV` inclusive): pool files are immutable, so the row-level diff is
    * exactly the files the manifests stopped/started referencing — rows
    * of added files are `insert`s, rows of dropped files are `delete`s,
    * tagged in `_change_type`. A downstream consumer (replica, index,
    * rollup) incrementally maintains itself at a cost that scales with
    * CHANGED files, never with table history — the Delta CDF shape from
    * nothing but the manifest diff.
    *
    * Caveat (shared by every CDF without per-row ids): a copy-on-write
    * rewrite re-lists the unchanged rows of a touched file as a
    * delete+insert pair of identical rows; [[merge]]/[[deleteKeys]]
    * minimize that by rewriting only files that truly contain a matched
    * key. Both versions must still be within the vacuum retention window.
    */
  def changesBetween(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changesBetween: fromV $fromV > toV $toV")
    val (mFrom, mTo) = (manifest(fromV), manifest(toV))
    val from = mFrom.dataNames.toSet
    val to = mTo.dataNames.toSet
    val fromDvN = mFrom.dvNames.toSet
    val toDvN = mTo.dvNames.toSet
    val fromDv = dvFrameOf(fromDvN.toSeq.sorted)
    val toDv = dvFrameOf(toDvN.toSeq.sorted)
    val added = (to -- from).toSeq.sorted
    val removed = (from -- to).toSeq.sorted
    val common = from.intersect(to)
    // file-set diffs carry the coarse changes, VISIBILITY-adjusted: an
    // added file's rows already tombstoned at toV were never visible, and
    // a removed file's rows already tombstoned at fromV were already gone
    val fileParts = Seq(
      (added, toDv, "insert", mTo),
      (removed, fromDv, "delete", mFrom)).collect {
      case (ns, dv, tag, m) if ns.nonEmpty =>
        readFiles(m.dataEntries(ns), dv, partTypesOf(m))
          .withColumn("_change_type", lit(tag))
    }
    // tombstone diffs on files present at BOTH ends: a DV file added in
    // the window deletes the positions it names (unless they were
    // already dead at fromV — stacked tombstones must not double-
    // report); one dropped in the window (RESTORE across a MoR delete)
    // resurrects them (unless still dead at toV). Scans are bounded to
    // the files the tombstones actually name — the change feed's cost
    // stays O(changed), never O(table).
    def dvDiffRows(diff: Option[DataFrame], stillDead: Option[DataFrame],
        tag: String): Option[DataFrame] = diff.map { d =>
      val targets = collectNames(d, DvKeys.head, "changesBetween")
        .intersect(common).toSeq.sorted
      val effective = stillDead.fold(d)(sd => d.join(sd, DvKeys, "left_anti"))
      if (targets.isEmpty) None
      else Some(withPos(pool(mTo.dataEntries(targets))).join(effective, DvKeys, "semi")
        .drop(DvKeys: _*).withColumn("_change_type", lit(tag)))
    }.flatten
    val newDvDeletes = dvDiffRows(dvFrameOf((toDvN -- fromDvN).toSeq.sorted), fromDv, "delete")
    val droppedDvInserts = dvDiffRows(dvFrameOf((fromDvN -- toDvN).toSeq.sorted), toDv, "insert")
    val parts = fileParts ++ newDvDeletes.toSeq ++ droppedDvInserts.toSeq
    if (parts.isEmpty)
      readVersion(toV).withColumn("_change_type", lit("insert")).limit(0)
    else parts.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Drop versions older than the newest `keepVersions`, then delete pool
    * files no retained manifest references. The retention window is the
    * reader contract: a snapshot stays readable as long as its version is
    * retained (same posture as a lakehouse VACUUM).
    *
    * `minFileAgeMs` protects in-flight commits: a concurrent writer pools
    * its data files BEFORE its manifest rename publishes them, so an
    * unreferenced-but-young pool file may belong to a commit about to
    * land — deleting it would let that commit succeed while referencing
    * vanished files. Only unreferenced files older than the threshold are
    * collected (the lakehouse VACUUM retention pattern); pass 0 only when
    * no writer can be in flight.
    *
    * `minVersionAgeMs` is the CONSUMER retention floor — the handshake
    * with streaming checkpoints. A [[GraftMicroBatchStream]] consumer's
    * checkpoint names a commit version; vacuuming a version a lagging
    * consumer still needs makes its restart fail (the stream's
    * checkpointed-version-vacuumed error). Since the table cannot
    * enumerate its consumers' checkpoints, the guard is temporal: vacuum
    * REFUSES — loudly, before dropping anything — to drop a version
    * committed within the horizon (default 7 days, the common lakehouse
    * retention default). Override by passing a smaller horizon (0 forces)
    * only when no consumer can be lagging more than that far behind; a
    * forced drop shifts the failure to the consumer's own restart error.
    * Returns (manifestsDeleted, filesDeleted).
    */
  def vacuum(keepVersions: Int = 1,
             minFileAgeMs: Long = 15L * 60 * 1000,
             minVersionAgeMs: Long = CommitLog.DefaultVersionRetentionMs): (Int, Int) = {
    require(keepVersions >= 1, "vacuum must retain at least the head version")
    val versions = committedVersions.sorted
    // tagged versions are pinned: a tag is a durable promise that its
    // snapshot stays readable, so it joins the keep set regardless of
    // keepVersions (drop the tag to release it)
    val pinned = refs.valuesIterator.collect {
      case r if r.kind == "tag" => r.version
    }.toSet
    val (drop0, keep0) = versions.splitAt(math.max(0, versions.length - keepVersions))
    val (kept, drop) = drop0.partition(pinned)
    val keep = kept ++ keep0
    val horizon = System.currentTimeMillis() - minVersionAgeMs
    val young = drop.filter(v => commitTime(v) > horizon)
    if (young.nonEmpty) throw new IllegalStateException(
      s"vacuum: refusing to drop version(s) ${young.mkString(", ")} under $tableRoot " +
        s"— committed within the retention horizon (minVersionAgeMs=$minVersionAgeMs). " +
        "A streaming consumer whose checkpoint still points inside this window " +
        "would fail on restart once its version is gone. Pass a smaller " +
        "minVersionAgeMs (0 forces) only when no consumer can lag that far.")
    val cutoff = System.currentTimeMillis() - minFileAgeMs
    // deletion-vector files are pool files too: collecting a referenced
    // DV would resurrect its tombstoned rows. Files a registered shallow
    // clone still references join the live set ([[cloneLiveNames]]) —
    // a source vacuum must not break an unmaterialized branch; young
    // empty markers (in-flight clones) survive under the same cutoff.
    val live = keep.flatMap(v => files(v) ++ dvFiles(v)).toSet ++ cloneLiveNames(cutoff)
    // delete manifests FIRST so no reader can resolve a version whose
    // files are about to go
    drop.foreach(v => hfs.delete(manifestPath(v), false))
    // recursive walk: partitioned pools nest files under c=v subdirs,
    // and liveness is keyed by the dataDir-relative name
    val dead: Seq[Path] =
      if (!hfs.exists(dataDir)) Seq.empty
      else {
        val base = dataDir.toUri.getPath
        val it = hfs.listFiles(dataDir, true)
        val acc = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) {
          val f = it.next()
          val rel = f.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
          if (f.isFile && !live(rel) && f.getModificationTime <= cutoff)
            acc += f.getPath
        }
        acc.toSeq
      }
    dead.foreach(p => hfs.delete(p, false))
    // `_tmp` staging orphans — zero-row writer files, redelivered-epoch
    // restages (txn dedup returns before pooling), crashed attempts — are
    // never referenced by any manifest, so they'd otherwise accumulate
    // forever on long-running streams. A staging entry whose NEWEST
    // descendant mtime is past the in-flight guard cannot belong to a
    // commit still in progress (pooling renames files OUT of _tmp before
    // the manifest publishes): collect it whole.
    var tmpDead = 0
    if (hfs.exists(tmpDir)) hfs.listStatus(tmpDir).foreach { entry =>
      def newestMtime(p: Path): Long = {
        val st = hfs.getFileStatus(p)
        if (st.isFile) st.getModificationTime
        else (st.getModificationTime +:
          hfs.listStatus(p).map(c => newestMtime(c.getPath)).toSeq).max
      }
      if (newestMtime(entry.getPath) <= cutoff) {
        val files =
          if (entry.isFile) 1
          else {
            val it = hfs.listFiles(entry.getPath, true); var n = 0
            while (it.hasNext) { it.next(); n += 1 }; n
          }
        if (hfs.delete(entry.getPath, true)) tmpDead += files
      }
    }
    // superseded index builds (bloom/ANN) retire HERE, not at rebuild:
    // the rebuild marks them `_superseded` and the same in-flight age
    // guard keeps a mid-probe reader's version dir alive through the
    // swap — closing the probe-during-rebuild race without a window
    var idxDead = 0
    val idxBase = new Path(tableRoot, "_index")
    if (hfs.exists(idxBase)) hfs.listStatus(idxBase).foreach { kind =>
      if (kind.isDirectory) hfs.listStatus(kind.getPath).foreach { colDir =>
        if (colDir.isDirectory) hfs.listStatus(colDir.getPath).foreach { vd =>
          val marker = new Path(vd.getPath, "_superseded")
          if (vd.isDirectory && hfs.exists(marker) &&
              hfs.getFileStatus(marker).getModificationTime <= cutoff) {
            val it = hfs.listFiles(vd.getPath, true); var n = 0
            while (it.hasNext) { it.next(); n += 1 }
            if (hfs.delete(vd.getPath, true)) idxDead += n
          }
        }
      }
    }
    // abandoned change-feed staging (`_cdf/<from>_<to>/`): a live
    // consumer prunes its ranges at progress-commit; a checkpoint that
    // died mid-read leaves ranges nothing will claim. They are content-
    // addressed and recomputed identically on demand, so aging them out
    // is purely reclamation — BUT age alone cannot distinguish an
    // abandoned range from one a live SLOW consumer's planned
    // micro-batch still holds paths into (deleting that one fails its
    // task with FileNotFoundException, and the re-derive only happens
    // after a stream restart). The guard is the same consumer handshake
    // minVersionAgeMs already encodes: a range whose hi version is
    // still RETAINED could legally serve a lagging consumer, so it
    // survives; once its versions drop from the log no consumer can
    // read it anyway (its restart fails on the vacuumed version first).
    // minVersionAgeMs = 0 is the operator's existing "no consumer can
    // lag" escape hatch and forces aged ranges out regardless.
    var cdfDead = 0
    val cdfBase = new Path(tableRoot, "_cdf")
    val oldestRetained = keep.headOption.getOrElse(Long.MaxValue)
    if (hfs.exists(cdfBase)) hfs.listStatus(cdfBase).foreach { rangeDir =>
      def newest(p: Path): Long = {
        val st = hfs.getFileStatus(p)
        if (st.isFile) st.getModificationTime
        else (st.getModificationTime +:
          hfs.listStatus(p).map(c => newest(c.getPath)).toSeq).max
      }
      val hi = scala.util.Try(
        rangeDir.getPath.getName.split('_').last.toLong).toOption
      val consumerSafe = minVersionAgeMs <= 0 || hi.exists(_ < oldestRetained)
      if (consumerSafe && newest(rangeDir.getPath) <= cutoff) {
        val it = hfs.listFiles(rangeDir.getPath, true); var n = 0
        while (it.hasNext) { it.next(); n += 1 }
        if (hfs.delete(rangeDir.getPath, true)) cdfDead += n
      }
    }
    (drop.length, dead.length + tmpDead + idxDead + cdfDead)
  }

  // ---- ANALYZE (optimizer statistics) ------------------------------------

  /** ANALYZE: one aggregation pass over the head snapshot harvesting
    * per-column NDV (HLL approximation) and null counts — plus, for
    * numeric AND date columns (dates through their epoch-day double
    * encoding), EQUI-HEIGHT HISTOGRAMS (33 approx-percentile
    * endpoints in the same pass, then ONE more pass computing the
    * per-interval NDVs with the HLL-per-interval aggregate), and for
    * string columns lexicographic bounds + a count-min frequency
    * sketch — into
    * `_stats.json` beside the table: the column-level statistics
    * cost-based join reordering needs on top of the manifest's exact
    * row/byte counts. Histograms are what save CBO from the uniform-NDV
    * assumption on skewed or range-disjoint keys: an NDV-only estimate
    * of a join between mostly-disjoint key ranges is |a||b|/max(ndv)
    * while the histogram sees the near-empty overlap (PlanSpec pins the
    * resulting build-side flip). Atomic-typed columns only (complex
    * types carry no planner-meaningful NDV). The sidecar records the
    * analyzed version; like every engine's ANALYZE, the numbers go stale
    * as commits land and remain estimates, never correctness inputs.
    * Returns (version analyzed, columns analyzed).
    */
  def analyze(histograms: Boolean = true, histBins: Int = 32): (Long, Int) = {
    import org.apache.spark.sql.functions.{approx_count_distinct, array, count, count_min_sketch, max, min, percentile_approx, sum, unix_date, unix_micros, when}
    val v = committedHead("analyze: ")
    val df = readVersion(v)
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.collect {
      case f if (f.dataType match {
        case _: NumericType | StringType | BooleanType | DateType |
             TimestampType | TimestampNTZType | BinaryType => true
        case _ => false
      }) => f.name
    }.toSeq
    // numeric AND date columns additionally harvest min/max (always —
    // catalyst's join estimation treats a missing range on a
    // range-comparable key as a NullValueInterval, i.e. DISJOINT,
    // estimating every such join to 0 rows) and, when asked, equi-height
    // histogram endpoints. Dates ride the numeric path through their
    // EPOCH-DAY double encoding (unix_date) — exactly the internal
    // representation catalyst's ValueInterval/histogram math runs
    // DateType estimation on, so o_orderdate-style partition/join keys
    // get real range intersection instead of the uniform-NDV guess.
    val numCols: Seq[String] = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSeq
    val dateCols: Seq[String] = df.schema.fields.collect {
      case f if f.dataType == DateType => f.name
    }.toSeq
    // timestamps encode as EPOCH MICROSECONDS — catalyst's internal
    // TimestampType representation, which is also how FilterEstimation /
    // join estimation convert timestamp literals to doubles, so ranges
    // and histogram endpoints land in the same coordinate system
    // (seconds-encoded stats would misestimate by 10^6). NTZ casts to
    // TIMESTAMP first (numerically identical under the engine's fixed
    // UTC session timezone).
    val tsCols: Seq[String] = df.schema.fields.collect {
      case f if f.dataType == TimestampType || f.dataType == TimestampNTZType => f.name
    }.toSeq
    val rangeCols: Seq[String] = numCols ++ dateCols ++ tsCols
    def asDouble(c: String): org.apache.spark.sql.Column =
      if (dateCols.contains(c)) unix_date(col(s"`$c`")).cast("double")
      else if (tsCols.contains(c))
        unix_micros(col(s"`$c`").cast("timestamp")).cast("double")
      else col(s"`$c`").cast("double")
    // string columns harvest lexicographic bounds + a count-min frequency
    // sketch (the registry/status-string shape: NDV says how many
    // distinct values, the sketch says how OFTEN each one occurs —
    // equality-selectivity ground truth on skewed string keys). Bounds
    // and sketch live in the sidecar only; catalyst's ValueInterval does
    // not range-compare strings, so nothing nonsensical is served to it.
    val strCols: Seq[String] = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSeq
    val histCols: Seq[String] = if (histograms) rangeCols else Seq.empty
    val probs = array((0 to histBins).map(i => lit(i.toDouble / histBins)): _*)
    val aggs = cols.flatMap(c => Seq(
      approx_count_distinct(col(s"`$c`")),
      sum(when(col(s"`$c`").isNull, 1L).otherwise(0L)))) ++
      rangeCols.flatMap(c => Seq(min(asDouble(c)), max(asDouble(c)))) ++
      histCols.map(c => percentile_approx(asDouble(c), probs, lit(10000))) ++
      strCols.flatMap(c => Seq(
        min(col(s"`$c`")), max(col(s"`$c`")),
        count_min_sketch(col(s"`$c`"), lit(0.01d), lit(0.99d), lit(42)))) // ~10 KB/col
    val row = df.agg(count(lit(1)), aggs: _*).head()
    val rows = row.getLong(0)
    val mmBase = 1 + 2 * cols.size
    val minMax: Map[String, (Double, Double)] = rangeCols.zipWithIndex.flatMap {
      case (c, j) =>
        if (row.isNullAt(mmBase + 2 * j) || row.isNullAt(mmBase + 2 * j + 1)) None
        else Some(c -> ((row.getDouble(mmBase + 2 * j), row.getDouble(mmBase + 2 * j + 1))))
    }.toMap
    val histBase = mmBase + 2 * rangeCols.size
    val strBase = histBase + histCols.size
    // (col → (min, max, base64 count-min sketch)) for non-all-null strings
    val strStats: Map[String, (String, String, String)] =
      strCols.zipWithIndex.flatMap { case (c, j) =>
        val b = strBase + 3 * j
        if (row.isNullAt(b) || row.isNullAt(b + 1)) None
        else Some(c -> ((row.getString(b), row.getString(b + 1),
          java.util.Base64.getEncoder.encodeToString(
            row.getAs[Array[Byte]](b + 2)))))
      }.toMap
    // (col, endpoints) for columns that had any non-null value
    val histEps: Seq[(String, Seq[Double])] = histCols.zipWithIndex.flatMap {
      case (c, j) =>
        if (row.isNullAt(histBase + j)) None
        else Some(c -> row.getSeq[Double](histBase + j).toSeq)
    }
    // pass 2: per-interval NDV for every histogram column, ONE aggregate
    // (the same HLL-per-interval machinery Spark's own ANALYZE uses)
    val histNdvs: Map[String, Seq[Long]] =
      if (histEps.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
        import org.apache.spark.sql.catalyst.expressions.aggregate.ApproxCountDistinctForIntervals
        val nAggs = histEps.map { case (c, eps) =>
          org.apache.spark.sql.GraftSqlShim.column(
            new ApproxCountDistinctForIntervals(
              org.apache.spark.sql.GraftSqlShim.expression(asDouble(c)),
              CreateArray(eps.map(Literal(_))), 0.05).toAggregateExpression())
        }
        val r2 = df.agg(nAggs.head, nAggs.tail: _*).head()
        histEps.zipWithIndex.map { case ((c, _), j) =>
          c -> r2.getSeq[Long](j).toSeq
        }.toMap
      }
    import org.json4s._
    import org.json4s.JsonDSL._
    val colFields = cols.zipWithIndex.map { case (c, i) =>
      val ndv = row.getLong(1 + 2 * i)
      val nulls = if (row.isNullAt(2 + 2 * i)) 0L else row.getLong(2 + 2 * i)
      val base0: JObject = ("ndv" -> ndv) ~ ("nulls" -> nulls)
      val base = minMax.get(c) match {
        case Some((lo, hi)) => base0 ~ ("min" -> lo) ~ ("max" -> hi)
        case None => base0
      }
      val withHist = histEps.collectFirst { case (`c`, eps) => eps } match {
        case Some(eps) if histNdvs.contains(c) =>
          base ~ ("eps" -> eps) ~ ("indv" -> histNdvs(c))
        case _ => base
      }
      val withStr = strStats.get(c) match {
        case Some((lo, hi, cms)) =>
          withHist ~ ("smin" -> lo) ~ ("smax" -> hi) ~ ("cms" -> cms)
        case None => withHist
      }
      JField(c, withStr)
    }.toList
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("version" -> v) ~ ("rows" -> rows) ~ ("columns" -> JObject(colFields))))
    LogStore.write(hfs, new Path(tableRoot, "_stats.json"),
      json.getBytes(StandardCharsets.UTF_8))
    (v, cols.size)
  }

  /** The `_stats.json` estimates of the last [[analyze]], parsed once;
    * None when ANALYZE never ran. The four accessors below project it.
    */
  private[catalog] def analyzed(): Option[CommitLog.Analyzed] = {
    val f = new Path(tableRoot, "_stats.json")
    if (!hfs.exists(f)) None else CommitLog.Analyzed.parse(LogStore.readString(hfs, f))
  }

  /** (analyzedVersion, rows, col → (ndv, nullCount)). */
  def analyzedStats(): Option[(Long, Long, Map[String, (Long, Long)])] =
    analyzed().map(a => (a.version, a.rows, a.cols))

  /** Numeric-column min/max (as doubles): (analyzedVersion, col → (min,
    * max)). Served beside NDV so catalyst range intersection works — a
    * numeric join key with no range is a NullValueInterval and the whole
    * join estimates to zero.
    */
  def analyzedMinMax(): Option[(Long, Map[String, (Double, Double)])] =
    analyzed().map(a => (a.version, a.minMax))

  /** String-column statistics: (analyzedVersion, col → (lexicographic
    * min, max, count-min frequency sketch)). The sketch answers
    * `estimateCount(value)` within ~1% of rows at 99% confidence —
    * per-value equality selectivity on skewed string keys (status codes,
    * registry ids), which NDV alone cannot express.
    */
  def analyzedStringStats(): Option[(Long,
      Map[String, (String, String, org.apache.spark.util.sketch.CountMinSketch)])] =
    analyzed().map(a => (a.version, a.strings))

  /** Per-file Bloom-filter index on `column`: one pass over the current
    * snapshot aggregates a Bloom filter of `xxhash64(column)` PER POOL
    * FILE (Spark's own `BloomFilterAggregate`, codegen-hashed, filters
    * serialized only at shuffle edges), written as a parquet index table
    * under `_index/bloom/<column>/v<version>/` plus a tiny `_meta.json`
    * pinning the column's type. Footer min/max stats prune RANGES well
    * only on clustered data; a point lookup on a high-cardinality,
    * unclustered column (every file's [min,max] spans the key space)
    * prunes nothing — the Bloom index answers exactly that: at 100 TB a
    * `key = x` lookup touches the handful of files whose filter fires
    * instead of every file. Pool files are immutable, so an index row
    * stays valid as long as its file is referenced by ANY version —
    * carried files keep their filters across commits; files added after
    * the build are simply unindexed (conservatively scanned) until the
    * next build. Filters are sized by the LARGEST file's manifest row
    * count at `fpp` (small files get a lower effective fpp — wasted
    * bytes, never wrong answers). Returns (indexedVersion, filesIndexed).
    */
  def buildBloomIndex(column: String, fpp: Double = 0.01): (Long, Int) = {
    require(fpp > 0 && fpp < 1, s"buildBloomIndex: fpp $fpp out of (0,1)")
    val v = committedHead("buildBloomIndex: ")
    val m = manifest(v)
    val names = m.dataNames
    require(names.nonEmpty, s"buildBloomIndex: $tableRoot is empty")
    val dt = readVersion(v).schema.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(
        s"buildBloomIndex: no column `$column` in $tableRoot")).dataType
    val perFileRows = m.data.flatMap(_.rows)
    val numItems = math.max(1024L,
      if (perFileRows.nonEmpty) perFileRows.max else 1000000L)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(numItems, fpp)
    val index = bloomEntries(column, m.data, numItems, numBits)
    val idxRoot = new Path(tableRoot, s"_index/bloom/$column")
    val idxDir = new Path(idxRoot, s"v$v")
    index.write.mode("overwrite").parquet(idxDir.toString)
    import org.json4s.JsonDSL._
    LogStore.write(hfs, new Path(idxDir, "_meta.json"),
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        ("version" -> v) ~ ("type" -> dt.sql) ~ ("fpp" -> fpp)))
        .getBytes(StandardCharsets.UTF_8))
    // superseded builds retire via VACUUM, not here: a probe that
    // already resolved the old version dir keeps index-grade pruning
    // through the rebuild — the rebuild only MARKS old dirs, and vacuum
    // collects marked dirs past the same in-flight age guard as _tmp
    if (hfs.exists(idxRoot)) hfs.listStatus(idxRoot).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.drop(1).forall(_.isDigit) && n.drop(1).toLong != v) {
        val marker = new Path(st.getPath, "_superseded")
        if (!hfs.exists(marker))
          LogStore.write(hfs, marker, "retired".getBytes(StandardCharsets.UTF_8))
      }
    }
    (v, names.length)
  }

  /** One (name, bf) row per pool file of `files`: Spark's own
    * `BloomFilterAggregate` of `xxhash64(column)` grouped by file —
    * shared by the full build and the per-commit incremental maintain.
    * The (qualified path → manifest name) mapping rides as a
    * broadcastable frame: it must survive partition subdirs, and the
    * names list is already manifest-resident.
    */
  private def bloomEntries(column: String, files: Seq[Entry],
      numItems: Long, numBits: Long): DataFrame = {
    import spark.implicits._
    val nameOf = files.map { e =>
      val p = new Path(dataDir, e.name)
      hfs.makeQualified(p).toString -> e.name
    }.toDF("path", "name")
    val hashed = org.apache.spark.sql.functions.xxhash64(col(s"`$column`"))
    val bloomAgg = org.apache.spark.sql.GraftSqlShim.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        org.apache.spark.sql.GraftSqlShim.expression(hashed),
        org.apache.spark.sql.catalyst.expressions.Literal(numItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
    pool(files)
      .select(col("_metadata.file_path").as("path"), col(s"`$column`"))
      .groupBy(col("path"))
      .agg(bloomAgg.as("bf"))
      .join(org.apache.spark.sql.functions.broadcast(nameOf), "path")
      .select(col("name"), col("bf"))
  }

  /** Best-effort incremental index maintenance after a successful
    * publish: the commit's NEW pool files (vs. the previous manifest)
    * get their per-file Bloom filters APPENDED into every live
    * `_index/bloom/<col>` dir, so point lookups keep pruning new data
    * without a manual rebuild — previously every post-build commit
    * degraded its files to conservative scans. Cost: one pass over the
    * new files per indexed column, paid only by tables whose owner
    * opted into an index (and skippable via
    * `spark.graft.bloomIndex.autoMaintain=false`). STRICTLY best
    * effort: the commit already stands, and any failure (schema drift,
    * a concurrent rebuild retiring the dir) leaves the new files
    * conservatively scanned — never a wrong answer, by the
    * unknown-file-scans contract of [[readEquals]].
    */
  private def maintainBloomIndexes(v: Long, m: Manifest): Unit = {
    try {
      if (spark.conf.get("spark.graft.bloomIndex.autoMaintain", "true") != "true") return
      val base = new Path(tableRoot, "_index/bloom")
      if (!hfs.exists(base)) return
      val prev =
        if (v <= 1) Set.empty[String]
        else rawManifest(v - 1).dataNames.toSet
      val added = m.data.filterNot(e => prev(e.name))
      val fresh = added.filterNot(_.absolute)
      if (fresh.isEmpty) return
      val rowsOf = added.flatMap(_.rows)
      val numItems = math.max(1024L, if (rowsOf.nonEmpty) rowsOf.max else 1000000L)
      hfs.listStatus(base).map(_.getPath.getName).foreach { column =>
        bloomIndexFor(column).foreach { case (_, _, fpp, dir) =>
          val numBits = org.apache.spark.util.sketch.BloomFilter
            .optimalNumOfBits(numItems, fpp)
          // appended parts ride the SAME index dir (the probe reads the
          // dir wholesale); filters may be sized differently per batch —
          // each file's filter is probed independently, so that's fine
          bloomEntries(column, fresh, numItems, numBits)
            .write.mode("append").parquet(dir.toString)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Best-effort incremental ANN-index maintenance after a successful
    * publish (bloom pattern above): the commit's NEW pool files' vectors
    * are assigned to their nearest TRAINED centroid and appended into
    * the live `_index/ann/<col>` assignments — so post-build vectors
    * probe through the index instead of falling to the conservative
    * unindexed-tail scan. Vectors whose ids are ALREADY assigned (CoW
    * rewrites re-committing old rows) are left alone — no duplicate
    * assignments, and an UPDATED vector keeps its original cluster (the
    * standing approximation until the next full build). Skippable via
    * `spark.graft.annIndex.autoMaintain=false`; STRICTLY best effort —
    * any failure leaves the new vectors conservatively scanned, never a
    * wrong answer.
    */
  private def maintainAnnIndexes(v: Long, m: Manifest): Unit = {
    try {
      if (spark.conf.get("spark.graft.annIndex.autoMaintain", "true") != "true") return
      val base = new Path(tableRoot, "_index/ann")
      if (!hfs.exists(base)) return
      val prev =
        if (v <= 1) Set.empty[String]
        else rawManifest(v - 1).dataNames.toSet
      val fresh = m.data.filterNot(e => prev(e.name) || e.absolute).sortBy(_.name)
      if (fresh.isEmpty) return
      hfs.listStatus(base).map(_.getPath.getName).foreach { column =>
        AnnIndex.metaOf(spark, tableRoot, column).foreach { case (_, idCol, dir) =>
          AnnIndex.load(spark, tableRoot, column).foreach { case (_, cents, assigns) =>
            val vecs = readFiles(fresh, None)
              .select(col(idCol).cast("long").as("vec_id"),
                col(column).as("embedding"))
            graft.ops.KMeansIvf.assign(vecs, cents)
              .select(col("vec_id"), col("c_id"))
              .join(assigns.select(col("vec_id")), Seq("vec_id"), "left_anti")
              .write.mode("append")
              .parquet(new Path(dir, "assignments").toString)
          }
        }
        // drift policy: once post-build vectors outgrow the trained
        // baseline past the threshold, the FROZEN centroids no longer
        // describe the corpus and per-nprobe recall decays silently —
        // retrain here, at publish, with the same (k, iters). Amortized:
        // a 0.5 threshold retrains at most once per 1.5× growth. Opt
        // out via conf; `detail` still reports the ratio either way.
        val staleRatio =
          spark.conf.get("spark.graft.annIndex.staleRatio", "0.5").toDouble
        if (spark.conf.get("spark.graft.annIndex.autoRetrain", "true") == "true" &&
            AnnIndex.staleness(spark, tableRoot, column).exists(_ > staleRatio))
          AnnIndex.paramsOf(spark, tableRoot, column).foreach {
            case (k, iters, idCol) =>
              AnnIndex.build(spark, tableRoot, column, idCol, k, iters): Unit
          }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Newest Bloom index for `column`: (builtVersion, columnTypeDDL, fpp,
    * index directory), or None if never built.
    */
  private def bloomIndexFor(column: String): Option[(Long, String, Double, Path)] = {
    val idxRoot = new Path(tableRoot, s"_index/bloom/$column")
    if (!hfs.exists(idxRoot)) return None
    val vs = hfs.listStatus(idxRoot).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("v") && n.drop(1).nonEmpty &&
        n.drop(1).forall(_.isDigit) => n.drop(1).toLong
    }
    if (vs.isEmpty) None
    else {
      val best = vs.max
      val dir = new Path(idxRoot, s"v$best")
      val metaPath = new Path(dir, "_meta.json")
      if (!hfs.exists(metaPath)) None
      else {
        val body = LogStore.readString(hfs, metaPath)
        org.json4s.jackson.JsonMethods.parse(body) match {
          case org.json4s.JObject(fields) =>
            val m = fields.toMap
            val fpp = m.get("fpp").collect {
              case org.json4s.JDouble(x) => x
              case org.json4s.JDecimal(x) => x.toDouble
            }.getOrElse(0.01)
            m.get("type").collect {
              case org.json4s.JString(t) => (best, t, fpp, dir)
            }
          case _ => None
        }
      }
    }
  }

  /** Columns carrying a Bloom point-lookup index, with the version each
    * index was built at — the DESCRIBE DETAIL surface for [[readEquals]]
    * consumers (files added after that version scan conservatively).
    */
  def bloomIndexedColumns: Seq[(String, Long)] = {
    val idxBase = new Path(tableRoot, "_index/bloom")
    if (!hfs.exists(idxBase)) Seq.empty
    else hfs.listStatus(idxBase).toSeq.flatMap { colDir =>
      val col = colDir.getPath.getName
      val vs = hfs.listStatus(colDir.getPath).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.drop(1).nonEmpty &&
          n.drop(1).forall(_.isDigit) => n.drop(1).toLong }
      if (vs.isEmpty) None else Some(col -> vs.max)
    }.sortBy(_._1)
  }

  /** Bloom-indexed point-lookup read: rows of the current version where
    * every `(column, value)` predicate holds, scanning only the pool
    * files that BOTH the footer min/max stats and (when an index exists)
    * the per-file Bloom filters admit. The Bloom probe itself is a
    * distributed job over the index table — filter bytes never
    * centralize on the driver; only (file, verdict) booleans do, O(files)
    * like the manifest read that is already resident. Unindexed files
    * (added after the last build, or never indexed) scan conservatively;
    * answers are exact either way because the row filter always applies.
    */
  def readEquals(preds: Seq[(String, Any)]): DataFrame = {
    require(preds.nonEmpty, "readEquals: at least one (column, value)")
    val v = committedHead()
    val m = manifest(v)
    val names = m.dataNames
    val rowPred = preds.map { case (c, x) => col(s"`$c`") === lit(x) }
      .reduce(_ && _)
    if (names.isEmpty) return readVersion(v)
    var candidates = statsCandidates(m, preds.map { case (c, x) => (c, x, x) })
    preds.foreach { case (c, x) =>
      if (candidates.nonEmpty) bloomIndexFor(c).foreach { case (_, ddl, _, dir) =>
        try {
          val dt = org.apache.spark.sql.types.DataType.fromDDL(ddl)
          // hash the probe value EXACTLY as the build hashed the column:
          // xxhash64 over the column's own type (an int and a long hash
          // differently — the cast is the correctness seam)
          val hash = spark.range(1)
            .select(org.apache.spark.sql.functions.xxhash64(lit(x).cast(dt)))
            .head().getLong(0)
          val might = org.apache.spark.sql.functions.udf { (bf: Array[Byte]) =>
            org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(bf)).mightContainLong(hash)
          }
          val verdicts = spark.read.parquet(dir.toString)
            .select(col("name"), might(col("bf")).as("pass"))
            .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
          candidates = candidates.filter(n => verdicts.getOrElse(n, true))
        } catch {
          // the resolved index dir can race away mid-probe (a concurrent
          // rebuild retires superseded versions): any probe failure
          // degrades to "no index" — the conservative scan the design
          // guarantees — never to an error or a wrong answer
          case scala.util.control.NonFatal(_) => ()
        }
      }
    }
    if (candidates.isEmpty) readVersion(v).filter(rowPred).limit(0)
    else {
      val meta = tableMeta
      readFiles(m.dataEntries(candidates), dvFrameOf(m.dvNames), partTypesOf(m), meta,
        snapshotSchema(m, meta)).filter(rowPred)
    }
  }


  /** Time travel: the newest version whose manifest was published at or
    * before `tsMillis` (manifest publication IS the commit instant — the
    * rename/link that made the version visible). Within the vacuum
    * retention window this gives lakehouse-style `AS OF` reads: audits
    * ("what did the registry say when batch X ran?") without any copy.
    */
  def versionAsOf(tsMillis: Long): Option[Long] = {
    if (!hfs.exists(commitsDir)) return None
    val vs = hfs.listStatus(commitsDir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(d) if st.getModificationTime <= tsMillis => Some(d.toLong)
        case _ => None
      }
    }
    if (vs.isEmpty) None else Some(vs.max)
  }

  def readAsOf(tsMillis: Long): DataFrame = readVersion(versionAsOf(tsMillis)
    .getOrElse(throw new java.io.FileNotFoundException(
      s"no version committed at or before $tsMillis under $tableRoot")))

  /** Publication instant of a committed version (its manifest mtime). */
  def commitTime(v: Long): Long = hfs.getFileStatus(manifestPath(v)).getModificationTime

  /** Table history from the retained manifests, newest first: per version
    * the commit instant, file/tombstone counts, txn ids, and partition
    * spec — the DESCRIBE HISTORY surface, O(retained versions) manifest
    * reads and nothing else.
    */
  def history(): Seq[CommitInfo] =
    committedVersions.sorted.reverse.map { v =>
      val m = manifest(v)
      CommitInfo(v, commitTime(v), m.data.length, m.dvs.length, m.txns.length,
        m.partitionColumns, m.op.getOrElse(""))
    }

  /** File count of the current manifest (compaction bookkeeping). */
  def currentFileCount: Int = currentVersion.map(files(_).length).getOrElse(0)

  /** Versioned INCREMENTAL small-file compaction: bin-pack only the
    * files smaller than `targetFileBytes` (plus any shallow-clone
    * absolute references — compact is the clone materializer) into
    * `ceil(packedBytes / targetFileBytes)` pool files as a NEW version,
    * carrying every already-right-sized file by name — so a daily
    * compact on a 100 TB table costs O(small files since last compact),
    * not O(table), and converges: a second run with no new small files
    * is a no-op. A snapshot carrying merge-on-read tombstones takes the
    * full fold-and-rewrite instead (the read applies the DVs, the
    * replace retires them — incremental carry would have to keep DV
    * lines correct across a partial rewrite for no maintenance gain).
    * Readers holding any retained version keep reading exactly their
    * snapshot throughout. Returns (filesBefore, filesAfter).
    */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024,
      maxAttempts: Int = 5): (Int, Int) =
    headRace("compact", "compact", maxAttempts, requireHead) { (_, head) =>
      val names = head.dataNames
      val partCols = head.partitionColumns
      if (head.dvs.nonEmpty) {
        // tombstoned snapshot: full rewrite of the head this attempt read,
        // which also folds the DVs. Its rows already pass the constraints.
        val all = readManifest(head)
        val laidOut = clustered(if (partCols.nonEmpty) all
          else all.coalesce(fileCount(head.data.map(bytesOf).sum, targetFileBytes)),
          partCols, head.clustering)
        Publish(wholeManifest(head, replace = true, partCols, Nil, None,
          stage(laidOut, partCols, "compact"), Some(all.schema)),
          _ => (names.length, currentFileCount), readsRemovedOnly)
      } else {
        val sized = head.data.map(e => (e.name, bytesOf(e)))
        val candidates = sized.collect {
          case (n, b) if b < targetFileBytes || Manifest.isAbsoluteName(n) => n
        }
        // convergence: a LONE small file in its partition (or the whole
        // flat pool) cannot be packed with anything — rewriting it gains
        // no file count and would make every maintenance run a rewrite.
        // Absolute (clone) references always pack: materializing is the
        // point even when the partition holds just one.
        val pack = candidates.groupBy(n =>
            n.split('/').dropRight(1).mkString("/")).values
          .filter(g => g.length > 1 || g.exists(Manifest.isAbsoluteName))
          .flatten.toSeq
        if (pack.isEmpty) Settle((names.length, names.length))
        else {
          val packSet = pack.toSet
          val nOut = fileCount(sized.collect { case (n, b) if packSet(n) => b }.sum,
            targetFileBytes)
          val kept = head.filterEntries(e => e.dv || !packSet(e.name))
          // declared clustering: the pack rewrite is the convergence point —
          // files written before the declaration (or restaged by CoW ops)
          // come out range-clustered here
          val packed = readFiles(head.dataEntries(pack.sorted), None, partTypesOf(head))
          val laidOut =
            if (head.clustering.nonEmpty) clustered(packed, partCols, head.clustering, Some(nOut))
            else if (partCols.isEmpty) packed.coalesce(nOut)
            else packed.repartition(nOut, partCols.map(col): _*)
          Publish(kept ++ stage(laidOut, partCols, "compact"),
            _ => (names.length, currentFileCount), readsRemovedOnly)
        }
      }
    }
}
