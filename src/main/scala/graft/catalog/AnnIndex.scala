package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted approximate-nearest-neighbor index over a commit-log
  * table's embedding column: trained k-means centroids
  * ([[graft.ops.KMeansIvf]]) plus the per-vector cluster assignments,
  * stored as a versioned sidecar
  * `_index/ann/<column>/v<version>/{centroids,assignments}` +
  * `_meta.json` — the same pattern as the per-file Bloom index
  * ([[CommitLog.buildBloomIndex]]), so a probe in a LATER session reads
  * the trained structure instead of re-training.
  *
  * Scale posture (100 TB): training cost is paid once per build; the
  * probe is a broadcast centroid ranking (k rows) + an assignments
  * semi-join on the probed cluster ids + cosine top-k over ~nprobe/k of
  * the corpus — never an all-pairs scan. Vectors committed AFTER the
  * build are absent from the assignments table and are scanned
  * UNCONDITIONALLY (conservative: recall on new vectors is exact at the
  * price of scanning just the unindexed tail, which the next build
  * folds in). Superseded index versions retire on build; a probe that
  * loses that race degrades by re-resolving, never by wrong answers
  * (the sidecar is re-listed per probe).
  */
object AnnIndex {

  private def idxRoot(root: String, column: String) =
    new Path(root, s"_index/ann/$column")

  /** Train on the CURRENT snapshot and persist. Returns
    * (snapshotVersion, k). Deterministic given the table content (seed
    * init in [[graft.ops.KMeansIvf.train]]).
    */
  def build(spark: SparkSession, root: String, column: String, idCol: String,
      k: Int, iters: Int): (Long, Int) = {
    val log = new CommitLog(spark, root)
    val v = log.currentVersion.getOrElse(throw new java.io.FileNotFoundException(
      s"buildAnnIndex: no committed version under $root"))
    val vectors = log.readVersion(v)
      .select(col(idCol).cast("long").as("vec_id"), col(column).as("embedding"))
    val (cents, _) = graft.ops.KMeansIvf.train(spark, vectors, k, iters)
    val assigns = graft.ops.KMeansIvf.assign(vectors, cents)
      .select(col("vec_id"), col("c_id"))
    val fs = HadoopFs.fs(spark, root)
    val base = idxRoot(root, column)
    val dir = new Path(base, s"v$v")
    cents.write.mode("overwrite").parquet(new Path(dir, "centroids").toString)
    assigns.write.mode("overwrite").parquet(new Path(dir, "assignments").toString)
    // the drift baseline: how many vectors the TRAINING saw (footer-only
    // count of what was just written — no recompute). Auto-maintain
    // appends post-build assignments; the assigned-vs-built ratio is the
    // staleness metric ([[staleness]]).
    val builtCount = spark.read.parquet(new Path(dir, "assignments").toString).count()
    import org.json4s.JsonDSL._
    LogStore.write(fs, new Path(dir, "_meta.json"),
      org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
        ("version" -> v) ~ ("k" -> k) ~ ("iters" -> iters) ~ ("id_col" -> idCol) ~
          ("count" -> builtCount)))
        .getBytes(StandardCharsets.UTF_8))
    // superseded builds retire via VACUUM, not here: a probe that
    // already resolved the old version dir keeps serving through the
    // rebuild — this build only MARKS old dirs (newest serves every new
    // probe via vs.max), and vacuum collects marked dirs past its
    // in-flight age guard
    if (fs.exists(base)) fs.listStatus(base).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") && n.drop(1).forall(_.isDigit) && n.drop(1).toLong != v) {
        val marker = new Path(st.getPath, "_superseded")
        if (!fs.exists(marker))
          LogStore.write(fs, marker, "retired".getBytes(StandardCharsets.UTF_8))
      }
    }
    (v, k)
  }

  /** Columns carrying a persisted ANN index, with the snapshot version
    * each was built at — the DESCRIBE DETAIL surface (vectors committed
    * after that version scan conservatively until the next build).
    */
  def indexedColumns(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val fs = HadoopFs.fs(spark, root)
    val base = new Path(root, "_index/ann")
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.flatMap { colDir =>
      val c = colDir.getPath.getName
      val vs = fs.listStatus(colDir.getPath).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.drop(1).nonEmpty &&
          n.drop(1).forall(_.isDigit) => n.drop(1).toLong }
      if (vs.isEmpty) None else Some(c -> vs.max)
    }.sortBy(_._1)
  }

  /** Newest persisted index's raw metadata: (builtVersion, version dir,
    * parsed `_meta.json`).
    */
  private def metaJson(spark: SparkSession, root: String, column: String)
      : Option[(Long, Path, org.json4s.JValue)] = {
    val fs = HadoopFs.fs(spark, root)
    val base = idxRoot(root, column)
    if (!fs.exists(base)) return None
    val vs = fs.listStatus(base).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("v") && n.drop(1).nonEmpty &&
        n.drop(1).forall(_.isDigit) => n.drop(1).toLong
    }
    if (vs.isEmpty) return None
    val dir = new Path(base, s"v${vs.max}")
    val metaPath = new Path(dir, "_meta.json")
    if (!fs.exists(metaPath)) return None
    val body = LogStore.readString(fs, metaPath)
    Some((vs.max, dir, org.json4s.jackson.JsonMethods.parse(body)))
  }

  /** Newest persisted index's metadata: (builtVersion, idCol, version
    * dir) — what incremental maintenance needs without loading frames.
    */
  def metaOf(spark: SparkSession, root: String, column: String)
      : Option[(Long, String, Path)] =
    metaJson(spark, root, column).flatMap { case (v, dir, j) =>
      j \ "id_col" match {
        case org.json4s.JString(idCol) => Some((v, idCol, dir))
        case _ => None
      }
    }

  /** The build parameters of the newest index: (k, iters, idCol) — what
    * an automatic retrain re-uses.
    */
  def paramsOf(spark: SparkSession, root: String, column: String)
      : Option[(Int, Int, String)] =
    metaJson(spark, root, column).flatMap { case (_, _, j) =>
      (j \ "k", j \ "iters", j \ "id_col") match {
        case (org.json4s.JInt(k), org.json4s.JInt(it), org.json4s.JString(id)) =>
          Some((k.toInt, it.toInt, id))
        case _ => None
      }
    }

  /** Index staleness: post-build assignment growth over the trained
    * baseline, `(assigned now − assigned at build) / assigned at build`.
    * 0.0 on a fresh index; None when no index exists (or a pre-metric
    * build carries no baseline). Correctness never depends on this —
    * tail vectors assign to the FROZEN centroids (or scan
    * conservatively), so answers stay right; what decays is RECALL per
    * nprobe, because frozen centroids stop describing a drifted corpus.
    * Past `spark.graft.annIndex.staleRatio` (default 0.5) auto-maintain
    * retrains at publish (opt out: `spark.graft.annIndex.autoRetrain`);
    * the cost amortizes — a 0.5 threshold retrains at most once per
    * 1.5× corpus growth.
    */
  def staleness(spark: SparkSession, root: String, column: String)
      : Option[Double] =
    metaJson(spark, root, column).flatMap { case (_, dir, j) =>
      j \ "count" match {
        case org.json4s.JInt(built) =>
          val total = spark.read
            .parquet(new Path(dir, "assignments").toString).count()
          Some(math.max(0L, total - built.toLong).toDouble /
            math.max(1L, built.toLong))
        case _ => None
      }
    }

  /** Newest persisted index: (builtVersion, centroids, assignments). */
  def load(spark: SparkSession, root: String, column: String)
      : Option[(Long, DataFrame, DataFrame)] = {
    val fs = HadoopFs.fs(spark, root)
    val base = idxRoot(root, column)
    if (!fs.exists(base)) return None
    val vs = fs.listStatus(base).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("v") && n.drop(1).nonEmpty &&
        n.drop(1).forall(_.isDigit) => n.drop(1).toLong
    }
    if (vs.isEmpty) None
    else {
      val dir = new Path(base, s"v${vs.max}")
      if (!fs.exists(new Path(dir, "_meta.json"))) None
      else Some((vs.max,
        spark.read.parquet(new Path(dir, "centroids").toString),
        spark.read.parquet(new Path(dir, "assignments").toString)))
    }
  }

  /** Cross-session IVF probe against the persisted index: cosine top-k
    * of the CURRENT snapshot's vectors nearest the anchor, searching
    * the `nprobe` clusters whose trained centroids are L2-closest to
    * the anchor, plus every vector the index has no assignment for
    * (committed after the build — scanned unconditionally, so a stale
    * index can hide distance-ranked candidates but never new data).
    * `nprobe >= k` recovers exact brute force.
    */
  def probe(spark: SparkSession, root: String, column: String, idCol: String,
      anchorId: Long, nprobe: Int, topk: Int): DataFrame =
    probeCandidates(spark, root, column, idCol, anchorId, nprobe)
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(topk)

  /** The probe's scored candidate set before the top-k cut — every
    * vector in a probed cluster (or unindexed) with its anchor cosine.
    */
  def probeCandidates(spark: SparkSession, root: String, column: String,
      idCol: String, anchorId: Long, nprobe: Int): DataFrame = {
    graft.functions.VectorKernels.ensureRegistered(spark)
    val (_, cents, assigns) = load(spark, root, column).getOrElse(
      throw new java.io.FileNotFoundException(
        s"annProbe: no persisted index under $root for `$column` — " +
          "CALL graft.system.build_ann_index first"))
    val log = new CommitLog(spark, root)
    val vectors = log.read()
      .select(col(idCol).cast("long").as("vec_id"), col(column).as("embedding"))
    val anchor = vectors.filter(col("vec_id") === anchorId)
      .select(col("embedding").as("a_emb"))
    val probed = anchor.crossJoin(broadcast(cents))
      .withColumn("d2",
        expr("graft_vec_dot(a_emb, a_emb)") + expr("graft_vec_dot(c_emb, c_emb)")
          - lit(2.0) * expr("graft_vec_dot(a_emb, c_emb)"))
      .orderBy(col("d2").asc, col("c_id").asc)
      .limit(nprobe)
      .select(col("c_id"))
    val indexed = vectors.join(assigns, Seq("vec_id"))
      .join(broadcast(probed), Seq("c_id"))
      .select(col("vec_id"), col("embedding"))
    val unindexed = vectors
      .join(assigns.select(col("vec_id")), Seq("vec_id"), "left_anti")
    indexed.unionByName(unindexed)
      .filter(col("vec_id") =!= anchorId)
      .crossJoin(broadcast(anchor))
      .withColumn("cosine", expr("graft_vec_cosine(embedding, a_emb)"))
      .select(col("vec_id"), col("cosine"))
  }
}
