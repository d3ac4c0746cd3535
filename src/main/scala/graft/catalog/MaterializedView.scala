package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate materialized view over a
  * commit-log table, driven by the change data feed.
  *
  * The view is `SELECT groupCols, count(*), sum(col)… GROUP BY groupCols`
  * restricted to ADDITIVE aggregates (count + exact-decimal sums; avg
  * derives as sum/count), because additivity is what makes a refresh cost
  * O(changes), never O(table): [[refresh]] reads
  * [[CommitLog.changesBetween]] from the last refreshed version to the
  * source head, aggregates the delta with inserts weighted +1 and
  * deletes −1, unions it with the current view state, and re-aggregates —
  * one group-keyed shuffle over (view groups + changed groups). Groups
  * whose live row count reaches zero drop out of the view. At 100 TB this
  * is the rollup-maintenance contract the streaming twin
  * (`Ingest.maintainRollup`) provides for append streams, generalized to
  * the FULL mutation plane: CoW rewrites, MoR deletion vectors, RESTORE —
  * anything the change feed can express — while staying a batch-callable
  * library object whose cursor survives restarts (the `_mv.json` sidecar
  * records source root, definition, and refreshed version).
  *
  * Sums are accumulated as DECIMAL(38,6) so refresh order can never
  * change a result by float re-association — the same exactness
  * discipline the oracle keys use.
  *
  * Reference grounding: the framework's registry topology fans one
  * source into downstream consumers that each maintain derived state
  * (`cft/sourceSystem.yaml:29-63`); this is that consumer realized as an
  * incremental aggregate.
  */
final class MaterializedView private (
    spark: SparkSession,
    val mvRoot: String,
    val srcRoot: String,
    groupCols: Seq[String],
    sumCols: Seq[(String, String)],
    /** Star-join views: one (dimRoot, factKey, dimKey) per dimension —
      * the view is `fact JOIN dim_1 ON fk_1 = dk_1 ... JOIN dim_n`
      * aggregated (the TPC-H Q5 / q_join_multiway star). The FACT side
      * refreshes incrementally off its change feed (delta rows join the
      * dims, then fold signed, exactly the single-table path); each DIM
      * carries a version cursor — a moved dim invalidates every folded
      * group, so [[refresh]] falls back to ONE full recompute and
      * re-pins the cursors (dims are small and slow-moving; the fact
      * plane keeps O(changes) refreshes). Empty = single-table view.
      */
    val joins: Seq[(String, String, String)]) {

  private val log = new CommitLog(spark, mvRoot)
  private val srcLog = new CommitLog(spark, srcRoot)
  private val dimLogs = joins.map { case (d, _, _) => new CommitLog(spark, d) }

  /** Last source version folded into the view. The cursor of record is
    * the `#mvsrc:` header on the VIEW TABLE'S OWN head manifest —
    * published in the same atomic manifest as the folded state, so a
    * crash between fold and cursor write cannot exist and a re-opened
    * view can never re-fold an already-folded change window (silent
    * double counting). The `_mv.json` sidecar's version is an
    * informational fallback only (pre-header views).
    */
  def refreshedVersion: Long =
    log.currentVersion.flatMap(v => log.headerOf(v, "mvsrc")).map(_.toLong)
      .getOrElse(MaterializedView.readState(spark, mvRoot).version)

  /** Join views: the per-dim versions the folded state was computed
    * against, aligned with [[joins]] (informational sidecar cursors — a
    * mismatch only ever triggers a full recompute, never a wrong fold).
    * Empty on single-table views.
    */
  def dimVersions: Seq[Long] = MaterializedView.readState(spark, mvRoot).dimVersions

  /** The view's current content: groupCols, `cnt`, then one exact-decimal
    * sum per requested column under its alias.
    */
  def read(): DataFrame = log.read()

  private def aggregated(rows: DataFrame, signed: Boolean): DataFrame = {
    val w = if (signed)
      when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    else lit(1L)
    val sums = sumCols.map { case (c, as) =>
      sum(col(s"`$c`").cast("decimal(38,6)") * w).as(as)
    }
    rows.groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(sum(w).as("cnt"), sums: _*)
  }

  /** Fact rows (or fact change rows) extended with the dim — identity on
    * single-table views. The inner equi-join preserves the fact side's
    * `_change_type`, so a joined delta folds signed exactly like a
    * single-table delta.
    *
    * The dim side is PINNED to an explicit version, never the HEAD: an
    * incremental fold joins the dim version the existing folded state was
    * computed against (the sidecar cursor), so a dim commit landing
    * between the staleness check and the fold cannot produce a
    * mixed-dim view — the fold equals the pre-dim-commit recompute and
    * the NEXT refresh's cursor mismatch recomputes against the new dim.
    */
  private def joined(factRows: DataFrame, dimVs: Seq[Long]): DataFrame =
    joins.zipWithIndex.foldLeft(factRows) { case (acc, ((_, fk, dk), i)) =>
      val dim = dimVs.lift(i).filter(_ >= 0) match {
        case Some(dv) => dimLogs(i).readVersion(dv)
        case None     => dimLogs(i).read()
      }
      acc.join(dim, col(s"`$fk`") === col(s"`$dk`"), "inner")
    }

  /** Test seam: invoked after refresh()'s dim-staleness check and before
    * the incremental fold reads anything — the window the dim-version pin
    * exists for. Production no-op.
    */
  private[graft] var afterStalenessCheck: () => Unit = () => ()

  /** Fold source changes since the last refresh into the view. Returns
    * (sourceVersionNow, changeRowsProcessed) — (v, 0) when already
    * current. The delta pass is O(changed files); the fold is one
    * group-keyed shuffle over view-state ∪ delta-groups. A join view
    * whose DIM moved since the last fold recomputes fully instead
    * (every folded group may be invalid) and re-pins the dim cursor.
    */
  def refresh(): (Long, Long) = {
    val from = refreshedVersion
    val head = srcLog.currentVersion.getOrElse(
      throw new java.io.FileNotFoundException(s"source $srcRoot has no commits"))
    val dimHeads = dimLogs.map(_.currentVersion.getOrElse(
      throw new java.io.FileNotFoundException("join dim has no commits")))
    if (joins.nonEmpty && dimHeads != dimVersions) {
      // a dim moved: one full recompute PINNED to the dim versions the
      // check observed (a later dim commit invalidates this one too —
      // the next refresh's cursor mismatch catches it), then
      // incremental resumes
      val full = aggregated(joined(srcLog.readVersion(head), dimHeads), signed = false)
      log.commit(full, replace = true, None, Some("mvsrc" -> head.toString))
      MaterializedView.writeState(spark, mvRoot, srcRoot, groupCols, sumCols,
        head, joins, dimHeads)
      // rows-processed from the manifest's commit-time row tags — the
      // recompute above already scanned the source once; paying a SECOND
      // full scan for a return value doubles every dim-move refresh at
      // 100 TB. −1 when an untagged (pre-tag era) or tombstoned snapshot
      // leaves the exact count unknowable from metadata.
      return (head, srcLog.snapshotStats(head)._2.getOrElse(-1L))
    }
    if (head == from) return (head, 0L)
    require(head > from, s"source $srcRoot went backwards ($from -> $head); " +
      "rebuild the view with MaterializedView.create")
    afterStalenessCheck()
    val delta = srcLog.changesBetween(from, head)
    val deltaN = delta.count()
    // the fold joins every dim AS OF its cursor, matching the folded state
    val folded = aggregated(joined(delta, dimVersions), signed = true)
      .unionByName(read())
      .groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sumCols.map { case (_, as) => sum(col(s"`$as`")).as(as) }: _*)
      .filter(col("cnt") > 0)
    // state + cursor land in ONE manifest publish (#mvsrc header): the
    // fold and its progress marker are atomic, so neither a crash here
    // nor a concurrent refresh can double-fold the change window
    log.commit(folded, replace = true, None, Some("mvsrc" -> head.toString))
    MaterializedView.writeState(spark, mvRoot, srcRoot, groupCols, sumCols,
      head, joins, dimVersions)
    (head, deltaN)
  }
}

object MaterializedView {

  /** MV roots registered against a source root — the `_mvs.json`
    * sidecar ON THE SOURCE, maintained by [[create]], that lets the
    * query-rewrite rule ([[graft.plans.RewriteToMaterializedView]])
    * discover candidate views in O(1) metadata instead of scanning a
    * namespace. Entries whose view no longer exists are skipped by the
    * consumer (dropping a view needs no source-side cleanup).
    */
  def registered(spark: SparkSession, srcRoot: String): Seq[String] = {
    val fs = HadoopFs.fs(spark, srcRoot)
    val p = new Path(srcRoot, "_mvs.json")
    if (!fs.exists(p)) return Seq.empty
    val body = LogStore.readString(fs, p)
    org.json4s.jackson.JsonMethods.parse(body) match {
      case org.json4s.JArray(xs) => xs.collect { case org.json4s.JString(s) => s }
      case _ => Seq.empty
    }
  }

  private def register(spark: SparkSession, srcRoot: String, mvRoot: String): Unit = {
    val cur = registered(spark, srcRoot)
    if (!cur.contains(mvRoot)) {
      import org.json4s.JsonDSL._
      LogStore.write(HadoopFs.fs(spark, srcRoot), new Path(srcRoot, "_mvs.json"),
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(cur :+ mvRoot))
          .getBytes(StandardCharsets.UTF_8))
    }
  }

  /** A view's definition: (srcRoot, groupCols, sumCols, joinSpecs). */
  def definition(spark: SparkSession, mvRoot: String)
      : (String, Seq[String], Seq[(String, String)], Seq[(String, String, String)]) = {
    val st = readState(spark, mvRoot)
    (st.src, st.groups, st.sums, st.joins)
  }

  /** Define + fully compute the view at the source's current version.
    * Each `joins` entry `(dimRoot, factKey, dimKey)` adds one star
    * dimension: `srcRoot JOIN dim_1 ON fk_1 = dk_1 ... JOIN dim_n`
    * aggregated — the q_supplier_revenue shape (one dim) up to the
    * q_join_multiway star (N dims), maintained incrementally off the
    * FACT feed. Key names must differ within each spec and no column may
    * collide across the fact and every dim (the join keeps all
    * relations' columns).
    */
  def create(spark: SparkSession, mvRoot: String, srcRoot: String,
      groupCols: Seq[String], sumCols: Seq[(String, String)],
      joins: Seq[(String, String, String)] = Nil): MaterializedView = {
    require(groupCols.nonEmpty, "materialized view needs group columns")
    require(sumCols.map(_._2).distinct.length == sumCols.length &&
      !sumCols.map(_._2).contains("cnt"),
      "sum aliases must be distinct and not named cnt")
    val srcLog = new CommitLog(spark, srcRoot)
    val v = srcLog.currentVersion.getOrElse(
      throw new java.io.FileNotFoundException(s"source $srcRoot has no commits"))
    var seenCols = srcLog.readVersion(v).columns.toSet
    val dimVs = joins.map { case (d, fk, dk) =>
      require(fk != dk, s"join keys must differ ($fk = $dk); alias one side")
      val dl = new CommitLog(spark, d)
      val overlap = dl.read().columns.toSet & seenCols
      require(overlap.isEmpty,
        s"dim $d columns collide with fact/earlier-dim columns: ${overlap.mkString(", ")}")
      seenCols ++= dl.read().columns.toSet
      dl.currentVersion.getOrElse(throw new java.io.FileNotFoundException(
        s"join dim $d has no commits"))
    }
    val mv = new MaterializedView(spark, mvRoot, srcRoot, groupCols, sumCols, joins)
    val sums = sumCols.map { case (c, as) =>
      sum(col(s"`$c`").cast("decimal(38,6)")).as(as)
    }
    val full = mv.joined(srcLog.readVersion(v), dimVs)
      .groupBy(groupCols.map(c => col(s"`$c`")): _*)
      .agg(count(lit(1)).as("cnt"), sums: _*)
    mv.log.commit(full, replace = true, None, Some("mvsrc" -> v.toString))
    writeState(spark, mvRoot, srcRoot, groupCols, sumCols, v, joins, dimVs)
    register(spark, srcRoot, mvRoot)
    mv
  }

  /** Re-open an existing view from its sidecar (restart path). */
  def open(spark: SparkSession, mvRoot: String): MaterializedView = {
    val st = readState(spark, mvRoot)
    new MaterializedView(spark, mvRoot, st.src, st.groups, st.sums, st.joins)
  }

  def exists(spark: SparkSession, mvRoot: String): Boolean =
    HadoopFs.fs(spark, mvRoot).exists(new Path(mvRoot, "_mv.json"))

  private[catalog] case class MvState(src: String, groups: Seq[String],
      sums: Seq[(String, String)], version: Long,
      joins: Seq[(String, String, String)], dimVersions: Seq[Long])

  private def writeState(spark: SparkSession, mvRoot: String, srcRoot: String,
      groupCols: Seq[String], sumCols: Seq[(String, String)], v: Long,
      joins: Seq[(String, String, String)], dimVs: Seq[Long]): Unit = {
    import org.json4s.JsonDSL._
    val base =
      ("src" -> srcRoot) ~ ("groups" -> groupCols) ~
        ("sums" -> sumCols.map { case (c, as) => ("col" -> c) ~ ("as" -> as) }) ~
        ("version" -> v)
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        if (joins.isEmpty) base
        else base ~ ("dims" -> joins.zipWithIndex.map { case ((d, fk, dk), i) =>
          ("dim" -> d) ~ ("fkey" -> fk) ~ ("dkey" -> dk) ~
            ("dimv" -> dimVs.lift(i).getOrElse(-1L))
        })))
    LogStore.write(HadoopFs.fs(spark, mvRoot), new Path(mvRoot, "_mv.json"),
      json.getBytes(StandardCharsets.UTF_8))
  }

  private[catalog] def readState(spark: SparkSession, mvRoot: String): MvState = {
    val fs = HadoopFs.fs(spark, mvRoot)
    val p = new Path(mvRoot, "_mv.json")
    if (!fs.exists(p)) throw new java.io.FileNotFoundException(
      s"no materialized view under $mvRoot (missing _mv.json)")
    val body = LogStore.readString(fs, p)
    org.json4s.jackson.JsonMethods.parse(body) match {
      case org.json4s.JObject(fields) =>
        val m = fields.toMap
        def str(k: String) = m.get(k).collect { case org.json4s.JString(s) => s }
        val src = str("src")
          .getOrElse(throw new IllegalStateException(s"corrupt _mv.json at $mvRoot"))
        val groups = m.get("groups") match {
          case Some(org.json4s.JArray(xs)) => xs.collect { case org.json4s.JString(s) => s }
          case _ => Seq.empty
        }
        val sums = m.get("sums") match {
          case Some(org.json4s.JArray(xs)) => xs.collect {
            case org.json4s.JObject(f) =>
              val fm = f.toMap
              (fm.get("col"), fm.get("as")) match {
                case (Some(org.json4s.JString(c)), Some(org.json4s.JString(a))) => c -> a
                case _ => throw new IllegalStateException(s"corrupt _mv.json at $mvRoot")
              }
          }
          case _ => Seq.empty
        }
        val v = m.get("version").collect { case org.json4s.JInt(n) => n.toLong }
          .getOrElse(throw new IllegalStateException(s"corrupt _mv.json at $mvRoot"))
        // star format: "dims" array; legacy single-dim views wrote flat
        // "dim"/"fkey"/"dkey"/"dimv" fields — read both
        val (joins, dimVs) = m.get("dims") match {
          case Some(org.json4s.JArray(ds)) =>
            val parsed = ds.collect { case org.json4s.JObject(f) =>
              val fm = f.toMap
              def s(k: String) = fm.get(k).collect { case org.json4s.JString(x) => x }
              (s("dim"), s("fkey"), s("dkey")) match {
                case (Some(d), Some(fk), Some(dk)) =>
                  ((d, fk, dk),
                    fm.get("dimv").collect { case org.json4s.JInt(n) => n.toLong }
                      .getOrElse(-1L))
                case _ => throw new IllegalStateException(
                  s"corrupt _mv.json dims at $mvRoot")
              }
            }
            (parsed.map(_._1), parsed.map(_._2))
          case _ => (str("dim"), str("fkey"), str("dkey")) match {
            case (Some(d), Some(fk), Some(dk)) =>
              (Seq((d, fk, dk)),
                Seq(m.get("dimv").collect { case org.json4s.JInt(n) => n.toLong }
                  .getOrElse(-1L)))
            case _ => (Nil, Nil)
          }
        }
        MvState(src, groups, sums, v, joins, dimVs)
      case _ => throw new IllegalStateException(s"corrupt _mv.json at $mvRoot")
    }
  }
}
