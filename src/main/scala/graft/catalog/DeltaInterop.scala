package graft.catalog

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Interop with the open Delta Lake table format, implemented from the
  * PUBLIC protocol spec (delta.io PROTOCOL.md) rather than the connector
  * jars (absent in this environment): assets arrive and leave real lakes
  * as Delta/Iceberg tables, so the commit log needs an import/export
  * path even though its own manifest format is deliberately simpler.
  *
  *  - '''read''': replay `_delta_log` — optional parquet checkpoint
  *    named by `_last_checkpoint`, then the JSON commits after it, in
  *    version order; `metaData.schemaString` is Spark's own StructType
  *    JSON, `add`/`remove` actions resolve to the live file set
  *    (last action per path wins), `partitionValues` rehydrate the
  *    partition columns Delta strips from the data files.
  *  - '''import''': a read materialized into a [[CommitLog]] commit.
  *  - '''export''': pool files copied under the destination + a
  *    version-0 JSON commit (protocol 1/2, metaData, one `add` per
  *    file) — the minimal log any Delta reader accepts.
  *
  * All log processing is metadata-scale on the driver (file lists and
  * schemas — the same plane Delta's own snapshot replay runs on); row
  * data only ever moves through distributed parquet scans/writes.
  */
object DeltaInterop {

  private val mapper = new ObjectMapper()

  private case class Meta(schema: StructType, partitionCols: Seq[String])

  /** A deletion-vector descriptor from an `add` action (public protocol,
    * PROTOCOL.md "Deletion Vector Descriptor Schema"): where the
    * serialized RoaringBitmapArray of deleted row indices lives —
    * on-disk relative with a Z85 UUID name (`u`), on-disk absolute
    * (`p`), or Z85 inline (`i`).
    */
  private case class DvDescriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Int, cardinality: Long) {

    /** Absolute path of the on-disk DV file; None when inline. */
    def filePath(table: Path): Option[Path] = storageType match {
      case "p" => Some(new Path(pathOrInlineDv))
      case "u" =>
        // <random prefix><20-char Z85 of the 16-byte UUID> →
        // <table>/<prefix>/deletion_vector_<uuid>.bin
        val (prefix, enc) = pathOrInlineDv.splitAt(pathOrInlineDv.length - 20)
        val bb = java.nio.ByteBuffer.wrap(Z85.decode(enc))
        val uuid = new java.util.UUID(bb.getLong, bb.getLong)
        val dir = if (prefix.isEmpty) table else new Path(table, prefix)
        Some(new Path(dir, s"deletion_vector_$uuid.bin"))
      case "i" => None
      case other =>
        refuse(s"deletionVectors storageType '$other'", "add action")
    }
  }

  /** One live data file: relative path, partition values, and the
    * deletion vector masking its rows (if any).
    */
  private case class FileEntry(path: String, partValues: Map[String, Option[String]],
      dv: Option[DvDescriptor])

  /** One replayed snapshot: table schema, partition columns, and the
    * live data files with their partition values.
    */
  private case class Snapshot(meta: Meta, files: Seq[FileEntry])

  private def logDir(table: String) = new Path(table, "_delta_log")

  private def versionOf(name: String): Option[Long] = {
    val base = name.stripSuffix(".json")
    if (name.endsWith(".json") && base.forall(_.isDigit)) Some(base.toLong) else None
  }

  private def parseMeta(node: JsonNode): Meta = Meta(
    DataType.fromJson(node.get("schemaString").asText).asInstanceOf[StructType],
    Option(node.get("partitionColumns")).map(_.elements().asScala.map(_.asText).toSeq)
      .getOrElse(Seq.empty))

  private def partValues(node: JsonNode): Map[String, Option[String]] =
    Option(node.get("partitionValues")).map { pv =>
      pv.fields().asScala.map(e =>
        e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText))).toMap
    }.getOrElse(Map.empty)

  /** Field-metadata key carrying the parquet column name a column-mapped
    * Delta table stores a field under (public protocol; present in both
    * `name` and `id` modes — id mode additionally tags parquet field ids,
    * but physical-name matching reads both correctly for files Delta
    * writers produce).
    */
  private val PhysicalNameKey = "delta.columnMapping.physicalName"
  private val ColumnIdKey = "delta.columnMapping.id"

  /** Reader features this replay actually honors. Everything else must
    * refuse BY NAME: silently replaying a table whose reader contract we
    * don't implement returns wrong rows. `timestampNtz` only gates a
    * TYPE the Spark parquet reader handles natively; `columnMapping` is
    * implemented in [[readDelta]] via the fields' physical names;
    * `deletionVectors` decodes per the public bitmap format
    * ([[dvRowIndices]]) and maps onto the commit log's own MoR
    * tombstones on import.
    */
  private val SupportedReaderFeatures =
    Set("timestampNtz", "columnMapping", "deletionVectors")

  private def refuse(feature: String, where: String): Nothing =
    throw new UnsupportedOperationException(
      s"importDelta: table uses the Delta reader feature '$feature' ($where), " +
        "which this replay does not implement — importing would return wrong " +
        "rows. Rewrite the table without the feature and re-export, then import.")

  private def parseDv(node: JsonNode): DvDescriptor = DvDescriptor(
    node.get("storageType").asText,
    node.get("pathOrInlineDv").asText,
    Option(node.get("offset")).filterNot(_.isNull).map(_.asInt),
    node.get("sizeInBytes").asInt,
    node.get("cardinality").asLong)

  /** Magic number opening a serialized RoaringBitmapArray in the
    * protocol's "portable" format (little-endian throughout).
    */
  private val RoaringArrayMagic = 1681511377

  /** Decode one deletion vector to its deleted row indices. On-disk DVs
    * (`u`/`p`) live at `offset` in their `.bin` file as
    * `[size:int BE][portable RoaringBitmapArray][crc32:int BE]`; inline
    * DVs (`i`) are the Z85-encoded portable bytes. The portable layout:
    * magic, long bitmap count, then per 32-bit bucket a little-endian
    * int key and a standard portable RoaringBitmap; a row index is
    * `key << 32 | value`. Bitmap bytes are KB-scale compressed metadata
    * — this is a driver-side decode on the same plane as the log replay
    * itself, never row data.
    */
  private def dvRowIndices(spark: SparkSession, table: Path,
      d: DvDescriptor): Array[Long] = {
    val data: Array[Byte] = d.filePath(table) match {
      case None => Z85.decode(d.pathOrInlineDv).take(d.sizeInBytes)
      case Some(p) =>
        val fs = HadoopFs.fs(spark, p.toString)
        val in = fs.open(p)
        try {
          in.seek(d.offset.getOrElse(1).toLong)
          val size = in.readInt()
          require(size == d.sizeInBytes,
            s"deletion vector at $p: stored size $size != descriptor ${d.sizeInBytes}")
          val buf = new Array[Byte](size)
          in.readFully(buf)
          val crc = in.readInt()
          val c = new java.util.zip.CRC32()
          c.update(buf)
          require(crc == c.getValue.toInt, s"deletion vector at $p: checksum mismatch")
          buf
        } finally in.close()
    }
    val bb = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == RoaringArrayMagic,
      s"deletion vector: bad RoaringBitmapArray magic $magic")
    val n = bb.getLong
    val out = Array.newBuilder[Long]
    var i = 0L
    while (i < n) {
      val key = bb.getInt.toLong
      val rb = new org.roaringbitmap.RoaringBitmap()
      rb.deserialize(bb)
      // deserialize(ByteBuffer) leaves the buffer position unchanged
      bb.position(bb.position() + rb.serializedSizeInBytes())
      rb.forEach(new org.roaringbitmap.IntConsumer {
        def accept(v: Int): Unit = out += (key << 32) | (v.toLong & 0xFFFFFFFFL)
      })
      i += 1
    }
    val res = out.result()
    require(res.length.toLong == d.cardinality,
      s"deletion vector: decoded ${res.length} rows, descriptor says ${d.cardinality}")
    res
  }

  /** Serialize deleted row indices as the protocol's portable
    * RoaringBitmapArray — the writer-side inverse of [[dvRowIndices]].
    */
  private def portableBitmap(rows: Seq[Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    def leInt(v: Int): Unit = {
      dos.write(v & 0xff); dos.write((v >> 8) & 0xff)
      dos.write((v >> 16) & 0xff); dos.write((v >>> 24) & 0xff)
    }
    leInt(RoaringArrayMagic)
    val byKey = rows.groupBy(r => (r >>> 32).toInt).toSeq.sortBy(_._1)
    var n = byKey.size.toLong
    for (_ <- 0 until 8) { dos.write((n & 0xff).toInt); n >>= 8 }
    byKey.foreach { case (key, vs) =>
      leInt(key)
      org.roaringbitmap.RoaringBitmap
        .bitmapOf(vs.map(x => (x & 0xFFFFFFFFL).toInt).sorted: _*)
        .serialize(dos)
    }
    dos.flush()
    bos.toByteArray
  }

  private def checkProtocol(p: JsonNode): Unit = {
    val feats = Option(p.get("readerFeatures"))
      .map(_.elements().asScala.map(_.asText).toSet).getOrElse(Set.empty)
    val unsupported = feats -- SupportedReaderFeatures
    if (unsupported.nonEmpty)
      refuse(unsupported.toSeq.sorted.mkString(","), "protocol readerFeatures")
  }

  private def snapshot(spark: SparkSession, table: String,
      versionAsOf: Option[Long]): Snapshot = {
    val fs = HadoopFs.fs(spark, table)
    val dir = logDir(table)
    require(fs.exists(dir), s"not a Delta table (no _delta_log): $table")

    // checkpoint base: only usable when not time-traveling below it
    val lastCp = new Path(dir, "_last_checkpoint")
    val cpVersion: Option[Long] =
      if (!fs.exists(lastCp)) None
      else {
        val body = LogStore.readString(fs, lastCp)
        val v = mapper.readTree(body).get("version").asLong
        if (versionAsOf.exists(_ < v)) None else Some(v)
      }

    var meta: Option[Meta] = None
    val live = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]

    cpVersion.foreach { v =>
      // checkpoint parquet: one row per action, nested structs; driver
      // fetch is metadata-scale (the file list itself)
      val cp = new Path(dir, f"$v%020d.checkpoint.parquet")
      val cpDf = spark.read.parquet(cp.toString)
      def structFields(col: String): Seq[String] =
        cpDf.schema.find(_.name == col).map(_.dataType) match {
          case Some(st: StructType) => st.fieldNames.toSeq
          case _ => Seq.empty
        }
      // feature guard mirrors the JSON replay: a checkpoint can be the
      // ONLY place the protocol action survives (the commit it rode in
      // may be below the checkpoint horizon)
      if (structFields("protocol").contains("readerFeatures") &&
          cpDf.selectExpr("protocol.readerFeatures AS rf").filter("rf IS NOT NULL")
            .collect().exists(r => r.getSeq[String](0)
              .exists(f => !SupportedReaderFeatures.contains(f))))
        refuse("readerFeatures (checkpoint)", "protocol readerFeatures")
      val hasDv = structFields("add").contains("deletionVector")
      val dvExpr =
        if (hasDv) "add.deletionVector AS add_dv"
        else "CAST(NULL AS STRING) AS add_dv"
      val rows = cpDf
        .selectExpr("add.path AS add_path", "add.partitionValues AS add_pv", dvExpr,
          "metaData.schemaString AS schema_string", "metaData.partitionColumns AS part_cols")
        .collect()
      rows.foreach { r =>
        if (!r.isNullAt(r.fieldIndex("schema_string"))) {
          meta = Some(Meta(
            DataType.fromJson(r.getString(r.fieldIndex("schema_string")))
              .asInstanceOf[StructType],
            Option(r.getSeq[String](r.fieldIndex("part_cols"))).getOrElse(Seq.empty)))
        }
        if (!r.isNullAt(r.fieldIndex("add_path"))) {
          val pv = Option(r.getMap[String, String](r.fieldIndex("add_pv")))
            .map(_.toMap.map { case (k, v2) => k -> Option(v2) }).getOrElse(Map.empty)
          val dv =
            if (!hasDv || r.isNullAt(r.fieldIndex("add_dv"))) None
            else {
              val dr = r.getStruct(r.fieldIndex("add_dv"))
              def opt(f: String): Option[Int] =
                if (dr.schema.fieldNames.contains(f) && !dr.isNullAt(dr.fieldIndex(f)))
                  Some(dr.getInt(dr.fieldIndex(f)))
                else None
              Some(DvDescriptor(dr.getAs[String]("storageType"),
                dr.getAs[String]("pathOrInlineDv"), opt("offset"),
                dr.getAs[Int]("sizeInBytes"), dr.getAs[Long]("cardinality")))
            }
          val path = r.getString(r.fieldIndex("add_path"))
          live(path) = FileEntry(path, pv, dv)
        }
      }
    }

    val versions = fs.listStatus(dir).toSeq
      .flatMap(s => versionOf(s.getPath.getName).map(_ -> s.getPath))
      .filter { case (v, _) => v > cpVersion.getOrElse(-1L) &&
        versionAsOf.forall(v <= _) }
      .sortBy(_._1)
    require(versions.nonEmpty || cpVersion.nonEmpty,
      s"empty Delta log under $table" +
        versionAsOf.map(v => s" at or below version $v").getOrElse(""))

    versions.foreach { case (_, p) =>
      val body = LogStore.readString(fs, p)
      // within one commit an add takes precedence over a remove of the
      // same path (the protocol's DV-update shape is remove+add of the
      // SAME file with a new descriptor, in either order)
      val commitAdds = scala.collection.mutable.Set.empty[String]
      val commitRemoves = scala.collection.mutable.Set.empty[String]
      body.split('\n').iterator.map(_.trim).filter(_.nonEmpty).foreach { line =>
        val action = mapper.readTree(line)
        if (action.has("protocol")) checkProtocol(action.get("protocol"))
        else if (action.has("metaData")) {
          meta = Some(parseMeta(action.get("metaData")))
        } else if (action.has("add")) {
          val a = action.get("add")
          val path = a.get("path").asText
          val dv =
            if (a.hasNonNull("deletionVector")) Some(parseDv(a.get("deletionVector")))
            else None
          live(path) = FileEntry(path, partValues(a), dv)
          commitAdds += path
        } else if (action.has("remove")) {
          commitRemoves += action.get("remove").get("path").asText
        }
        // txn/commitInfo actions carry no file-set state here
      }
      (commitRemoves -- commitAdds).foreach(p => live.remove(p): Unit)
    }

    Snapshot(meta.getOrElse(throw new IllegalStateException(
      s"Delta log under $table has no metaData action")), live.values.toSeq)
  }

  /** Read a Delta table (optionally `VERSION AS OF`) into a DataFrame:
    * live parquet files scanned distributed, partition columns restored
    * from `partitionValues` per partition group.
    */
  def readDelta(spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot(spark, table, versionAsOf)
    val partCols = snap.meta.partitionCols
    // column mapping (mode name/id): fields carry the PHYSICAL name the
    // parquet files store under; partitionValues are keyed by it too.
    // Unmapped tables have no metadata and physical == logical.
    def phys(name: String): String = {
      val f = snap.meta.schema(name)
      if (f.metadata.contains(PhysicalNameKey))
        f.metadata.getString(PhysicalNameKey)
      else f.name
    }
    // a plain logical-named schema for the returned frame (metadata
    // stripped so downstream writes don't propagate the mapping keys)
    val outSchema = StructType(snap.meta.schema.map(f =>
      StructField(f.name, f.dataType, f.nullable)))
    val dataSchema = StructType(snap.meta.schema
      .filterNot(f => partCols.contains(f.name))
      .map(f => StructField(phys(f.name), f.dataType, f.nullable)))
    if (snap.files.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        outSchema)
    val tablePath = new Path(table)
    // group files by partition tuple; each group scans as one parquet
    // read with its partition values rehydrated as typed literals, then
    // the groups union — group count = partition count (metadata-scale)
    val byPart = snap.files.groupBy(_.partValues).toSeq
    val frames = byPart.map { case (pv, files) =>
      val paths = files.map(f => new Path(table, f.path).toString)
      val base0 = spark.read.schema(dataSchema).parquet(paths: _*)
      // deletion vectors: mask each file's deleted row indices via a
      // broadcast anti-join on (file leaf, row position) — the same
      // shape the commit log's own MoR tombstone read uses. Delta file
      // names are UUID-unique, so the leaf identifies the file.
      val deleted: Seq[(String, Long)] = files.flatMap(f => f.dv.toSeq.flatMap(d =>
        dvRowIndices(spark, tablePath, d).map(ix =>
          new Path(f.path).getName -> ix)))
      val base = if (deleted.isEmpty) base0 else {
        import org.apache.spark.sql.functions.{broadcast, element_at, split}
        val delDf = spark.createDataFrame(
          deleted.map { case (n, p) => org.apache.spark.sql.Row(n, p) }.asJava,
          StructType(Seq(
            StructField("_dv_leaf", org.apache.spark.sql.types.StringType),
            StructField("_dv_pos", org.apache.spark.sql.types.LongType))))
        base0
          .withColumn("_dv_leaf", element_at(split(col("_metadata.file_path"), "/"), -1))
          .withColumn("_dv_pos", col("_metadata.row_index"))
          .join(broadcast(delDf), Seq("_dv_leaf", "_dv_pos"), "left_anti")
          .drop("_dv_leaf", "_dv_pos")
      }
      partCols.foldLeft(base) { (df, c) =>
        val tpe = snap.meta.schema(c).dataType
        val v = pv.get(phys(c)).orElse(pv.get(c)).flatten.orNull
        df.withColumn(phys(c), lit(v).cast(tpe))
      }.select(snap.meta.schema.map(f =>
        col(s"`${phys(f.name)}`").as(f.name)): _*)
    }
    frames.reduce(_.unionByName(_))
  }

  /** Import a Delta table into a [[CommitLog]] table (one commit).
    *
    * Flat, unmapped tables take the byte-copy path: every live parquet
    * file pools UNCHANGED and any deletion vector translates 1:1 into
    * the commit log's own native MoR `(file, pos)` tombstones, landing
    * atomically with the files ([[CommitLog.commitFilesWithDeletes]]).
    * That keeps the import O(bytes copied) — no decode, no re-encode,
    * no shuffle — and preserves the source's merge-on-read economics: a
    * 100 TB DV-bearing table imports without rewriting a single data
    * file. Partitioned or column-mapped tables materialize through
    * [[readDelta]] instead (their data files don't contain the
    * partition column / logical names, so a byte-copy would be wrong).
    */
  def importDelta(spark: SparkSession, deltaTable: String, commitRoot: String,
      replace: Boolean = true): Long = {
    val snap = snapshot(spark, deltaTable, None)
    val mapped = snap.meta.schema.exists(_.metadata.contains(PhysicalNameKey))
    if (snap.meta.partitionCols.isEmpty && !mapped && snap.files.nonEmpty) {
      val tablePath = new Path(deltaTable)
      val srcs = snap.files.map { f =>
        (new Path(tablePath, f.path),
          f.dv.map(d => dvRowIndices(spark, tablePath, d).toSeq).getOrElse(Seq.empty))
      }
      new CommitLog(spark, commitRoot).commitFilesWithDeletes(srcs, replace = replace)
    } else
      new CommitLog(spark, commitRoot).commit(readDelta(spark, deltaTable),
        replace = replace)
  }

  /** Export the head of a [[CommitLog]] table as a minimal Delta table:
    * data files copied byte-identical (no recompute, no shuffle), one
    * version-0 commit listing them. Native MoR tombstones export as the
    * protocol's own DELETION VECTORS (a `deletion_vector_<uuid>.bin` of
    * portable bitmaps, storageType-"u" descriptors on the adds,
    * reader/writer features raised accordingly), so a tombstone-bearing
    * table leaves WITHOUT rewriting a single data file; only
    * hive-partitioned pools materialize (their partition column lives
    * in the path, not the file bytes). Clean flat tables keep the
    * minimal (1,2) protocol any Delta reader accepts.
    */
  def exportDelta(spark: SparkSession, commitRoot: String, dest: String): Int = {
    val log = new CommitLog(spark, commitRoot)
    val v = log.currentVersion.getOrElse(throw new java.io.FileNotFoundException(
      s"no committed version under $commitRoot"))
    // hidden-partition transforms: export the LOGICAL table — the
    // derived `_p_*` layout columns are engine-internal and must not
    // surface as data columns in a foreign format
    val hidden = log.partitionTransforms.map(_.derivedName)
    def visible(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val drop = hidden.filter(df.columns.contains)
      if (drop.isEmpty) df else df.drop(drop: _*)
    }
    val schema = visible(log.readVersion(v)).schema
    val fs = HadoopFs.fs(spark, dest)
    val destPath = new Path(dest)
    fs.mkdirs(destPath)
    val srcFs = HadoopFs.fs(spark, commitRoot)
    // a type-WIDENED table byte-copied would pair narrow physical files
    // with the wide exported schema — plain Delta readers without the
    // typeWidening feature would refuse or misread, so widened tables
    // pay the materializing write (files land wide, schema honest)
    val meta = TableMeta.read(srcFs, commitRoot)
    val flat = log.partitionColumns(v).isEmpty && !meta.widened
    val names: Seq[String] =
      if (flat) {
        // flat layout: pool files ARE the table bytes — copy, don't
        // recompute (merge-on-read tombstones export as the format's
        // own deletion vectors below, so they no longer force a rewrite)
        val ns = log.files(v)
        ns.foreach { n =>
          val src = new Path(new Path(commitRoot, "data"), n)
          if (!FileUtil.copy(srcFs, src, fs, new Path(destPath, n), false, fs.getConf))
            throw new java.io.IOException(s"exportDelta: copy of $n failed")
        }
        ns
      } else {
        // a hive-partitioned pool's files don't CONTAIN the partition
        // column (it lives in the path — a byte-copy would silently
        // drop it): materialize the visible snapshot instead (one
        // distributed write; partition columns become data columns)
        val stage = new Path(destPath, "_graft_export_stage")
        visible(log.readVersion(v)).write.mode("overwrite").parquet(stage.toString)
        val parts = fs.listStatus(stage)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(_.getPath).sortBy(_.getName)
        val moved = parts.map { p =>
          if (!fs.rename(p, new Path(destPath, p.getName)))
            throw new java.io.IOException(s"exportDelta: move of ${p.getName} failed")
          p.getName
        }
        fs.delete(stage, true)
        moved.toSeq
      }

    // native MoR tombstones → the protocol's own deletion vectors: one
    // `deletion_vector_<uuid>.bin` holding a portable RoaringBitmapArray
    // per tombstoned file ([version:1][per DV: size BE, data, crc32 BE]),
    // each add action carrying its storageType "u" descriptor. Bitmap
    // assembly is per-file metadata (roaring bytes are KB-scale — the
    // same plane real Delta writers build DVs on); per-file positions
    // aggregate executor-side and only the compressed groups collect.
    val dvOf: Map[String, (String, Int, Int, Long)] =
      if (!flat || log.dvFiles(v).isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{col, collect_list}
        val nameSet = names.toSet
        val grouped = spark.read.parquet(log.dvFiles(v).map(n =>
            new Path(new Path(commitRoot, "data"), n).toString): _*)
          .groupBy(col("_graft_del_file"))
          .agg(collect_list(col("_graft_del_pos")).as("ps"))
          .collect()
          .map(r => r.getString(0) -> r.getSeq[Long](1))
          .filter { case (n, ps) => nameSet.contains(n) && ps.nonEmpty }
          .sortBy(_._1)
        if (grouped.isEmpty) Map.empty
        else {
          val uuid = java.util.UUID.randomUUID()
          val uuidBytes = java.nio.ByteBuffer.allocate(16)
            .putLong(uuid.getMostSignificantBits)
            .putLong(uuid.getLeastSignificantBits).array
          val enc = Z85.encode(uuidBytes)
          val bos = new java.io.ByteArrayOutputStream()
          val dos = new java.io.DataOutputStream(bos)
          dos.writeByte(1)
          val entries = grouped.map { case (n, ps) =>
            val data = portableBitmap(ps.sorted)
            val offset = bos.size()
            dos.writeInt(data.length)
            dos.write(data)
            val crc = new java.util.zip.CRC32()
            crc.update(data)
            dos.writeInt(crc.getValue.toInt)
            n -> ((enc, offset, data.length, ps.length.toLong))
          }
          dos.flush()
          LogStore.write(fs, new Path(destPath, s"deletion_vector_$uuid.bin"),
            bos.toByteArray)
          entries.toMap
        }
      }
    def esc(s: String): String = mapper.writeValueAsString(s)
    // a declared schema with column renames exports as a
    // COLUMN-MAPPED Delta table (mode=name): the emitted schema carries
    // the logical names with `delta.columnMapping.physicalName` pointing
    // at the name the (byte-copied) files actually store — the public
    // protocol's own spelling of the indirection this commit log keeps
    // in its descriptor, so a rename never forces a rewrite on export
    // either. Tables without renames keep the minimal (1,2) log; a
    // rename-free declared schema still REPLACES the file-derived one,
    // which is what drops DROPPED columns from the exported contract.
    val declared = meta.schema
    val renames = declared.map(ColumnMapping.renames).getOrElse(Map.empty)
    val (outSchema, configJson, protocol) =
      if (renames.isEmpty) {
        (declared.map(s => StructType(s.map(f =>
          StructField(f.name, f.dataType, f.nullable)))).getOrElse(schema),
          """{}""",
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
      } else {
        val d = declared.get
        val mapped = StructType(d.fields.zipWithIndex.map { case (f, i) =>
          StructField(f.name, f.dataType, f.nullable,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong(ColumnIdKey, i + 1L)
              .putString(PhysicalNameKey, ColumnMapping.physicalName(f))
              .build())
        })
        (mapped,
          s"""{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"${d.length}"}""",
          // columnMapping's protocol floor per the public spec
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""")
      }
    // exporting deletion vectors raises the protocol floor to reader
    // features — by the spec's design, so a reader that can't apply DVs
    // refuses instead of resurrecting rows
    val protocolFinal =
      if (dvOf.isEmpty) protocol
      else {
        val feats =
          (if (renames.isEmpty) Seq("deletionVectors")
           else Seq("columnMapping", "deletionVectors"))
            .map(f => s""""$f"""").mkString(",")
        s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          s""""readerFeatures":[$feats],"writerFeatures":[$feats]}}"""
      }
    val metaData =
      s"""{"metaData":{"id":${esc(java.util.UUID.randomUUID().toString)},""" +
        s""""format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${esc(outSchema.json)},""" +
        s""""partitionColumns":[],"configuration":$configJson}}"""
    val adds = names.map { n =>
      val st = fs.getFileStatus(new Path(destPath, n))
      val dvJson = dvOf.get(n).map { case (enc, off, size, card) =>
        s""","deletionVector":{"storageType":"u","pathOrInlineDv":${esc(enc)},""" +
          s""""offset":$off,"sizeInBytes":$size,"cardinality":$card}"""
      }.getOrElse("")
      s"""{"add":{"path":${esc(n)},"partitionValues":{},"size":${st.getLen},""" +
        s""""modificationTime":${st.getModificationTime},"dataChange":true$dvJson}}"""
    }
    fs.mkdirs(logDir(dest))
    LogStore.write(fs, new Path(logDir(dest), f"${0L}%020d.json"),
      ((protocolFinal +: metaData +: adds).mkString("\n") + "\n")
        .getBytes(StandardCharsets.UTF_8))
    names.length
  }
}
