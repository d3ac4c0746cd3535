package graft.catalog

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Interop with the open Apache Iceberg table format, implemented from
  * the PUBLIC spec (iceberg.apache.org/spec — v2 table metadata, manifest
  * list, manifest) rather than the connector jars (absent in this
  * environment). Mirrors [[DeltaInterop.exportDelta]] for the other half
  * of the lake world: a [[CommitLog]] snapshot leaves as a table any
  * Iceberg catalog pointed at the directory (HadoopTables layout:
  * `metadata/v1.metadata.json` + `version-hint.text`) can load.
  *
  * What is written:
  *  - data files copied byte-identical into `data/` (or the visible
  *    snapshot materialized when merge-on-read tombstones exist — the
  *    Iceberg dialect emitted here is data-only, like the Delta export),
  *  - one manifest (Avro, `manifest_entry` records with spec field-ids),
  *  - one manifest list (Avro, `manifest_file` records),
  *  - `v1.metadata.json` (format-version 2: schemas with assigned
  *    field-ids, unpartitioned spec, one append snapshot, main ref),
  *  - `version-hint.text` for HadoopCatalog-style discovery.
  *
  * All log processing is metadata-scale on the driver (file names, row
  * counts from parquet footers); row bytes move only in the no-DV copy
  * or the one distributed materialization write.
  */
object IcebergInterop {

  private val mapper = new ObjectMapper()

  // ---- Spark → Iceberg schema JSON with field-id assignment --------------

  /** Iceberg type JSON for a Spark type; `nextId` hands out element/key/
    * value/nested-field ids (the spec requires every field to carry a
    * unique id — ids are what make Iceberg schema evolution safe).
    */
  private def icebergType(dt: DataType, nextId: () => Int): Object = dt match {
    case BooleanType => "boolean"
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case ArrayType(et, containsNull) =>
      val node = mapper.createObjectNode()
      node.put("type", "list")
      val eid = nextId()
      node.put("element-id", eid)
      node.set("element", mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](
        icebergType(et, nextId)))
      node.put("element-required", !containsNull)
      node
    case MapType(kt, vt, valueContainsNull) =>
      val node = mapper.createObjectNode()
      node.put("type", "map")
      val kid = nextId(); val vid = nextId()
      node.put("key-id", kid)
      node.set("key", mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](
        icebergType(kt, nextId)))
      node.put("value-id", vid)
      node.set("value", mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](
        icebergType(vt, nextId)))
      node.put("value-required", !valueContainsNull)
      node
    case StructType(fields) =>
      val node = mapper.createObjectNode()
      node.put("type", "struct")
      val arr = node.putArray("fields")
      fields.foreach { f =>
        val fid = nextId()
        val fn = mapper.createObjectNode()
        fn.put("id", fid)
        fn.put("name", f.name)
        fn.put("required", !f.nullable)
        fn.set("type", mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](
          icebergType(f.dataType, nextId)))
        arr.add(fn)
      }
      node
    case other => throw new UnsupportedOperationException(
      s"exportIceberg: no Iceberg mapping for Spark type $other")
  }

  /** (schema JSON with schema-id 0, last assigned column id). Top-level
    * fields take ids 1..n first (the Iceberg convention), then nested
    * ids follow.
    */
  private def icebergSchemaJson(schema: StructType): (String, Int) = {
    var id = 0
    def nextId(): Int = { id += 1; id }
    val node = mapper.createObjectNode()
    node.put("type", "struct")
    node.put("schema-id", 0)
    val arr = node.putArray("fields")
    // two passes: top-level ids first, nested ids after — matching how
    // Iceberg's own schema assignment numbers a fresh table
    val topIds = schema.fields.map(_ => nextId())
    schema.fields.zip(topIds).foreach { case (f, fid) =>
      val fn = mapper.createObjectNode()
      fn.put("id", fid)
      fn.put("name", f.name)
      fn.put("required", !f.nullable)
      fn.set("type", mapper.valueToTree[com.fasterxml.jackson.databind.JsonNode](
        icebergType(f.dataType, () => nextId())))
      arr.add(fn)
    }
    (mapper.writeValueAsString(node), id)
  }

  // ---- Avro schemas from the public spec (field-ids as avro props) -------

  private val manifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int","field-id":0},
      |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |  {"name":"content","type":"int","field-id":134},
      |  {"name":"file_path","type":"string","field-id":100},
      |  {"name":"file_format","type":"string","field-id":101},
      |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      |  {"name":"record_count","type":"long","field-id":103},
      |  {"name":"file_size_in_bytes","type":"long","field-id":104}
      |]}}]}""".stripMargin)

  private val manifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  /** Export the head of a [[CommitLog]] table as a minimal Iceberg v2
    * table under `dest`. Returns the number of data files exported.
    */
  def exportIceberg(spark: SparkSession, commitRoot: String, dest: String): Int = {
    val log = new CommitLog(spark, commitRoot)
    val v = log.currentVersion.getOrElse(throw new java.io.FileNotFoundException(
      s"no committed version under $commitRoot"))
    // hidden-partition transforms: export the LOGICAL table — the
    // derived `_p_*` layout columns never surface in a foreign format
    val hidden = log.partitionTransforms.map(_.derivedName)
    def visible(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val drop = hidden.filter(df.columns.contains)
      if (drop.isEmpty) df else df.drop(drop: _*)
    }
    val schema = visible(log.readVersion(v)).schema
    val fs = HadoopFs.fs(spark, dest)
    val destPath = fs.makeQualified(new Path(dest))
    val dataDir = new Path(destPath, "data")
    val metaDir = new Path(destPath, "metadata")
    fs.mkdirs(dataDir)
    fs.mkdirs(metaDir)
    val srcFs = HadoopFs.fs(spark, commitRoot)

    // byte-copy whenever the pool is flat — merge-on-read tombstones
    // now export AS the v2 format's own position deletes (below), so
    // only a hive-partitioned pool (partition values live in the path,
    // not the file bytes) or a type-WIDENED one (narrow physical files
    // under the wide schema would need the reader's type-promotion
    // support) pays the materializing write
    val meta = TableMeta.read(srcFs, commitRoot)
    val flat = log.partitionColumns(v).isEmpty && !meta.widened
    val names: Seq[String] =
      if (flat) {
        val ns = log.files(v)
        ns.foreach { n =>
          val src = new Path(new Path(commitRoot, "data"), n)
          if (!FileUtil.copy(srcFs, src, fs, new Path(dataDir, n), false, fs.getConf))
            throw new java.io.IOException(s"exportIceberg: copy of $n failed")
        }
        ns
      } else {
        val stage = new Path(destPath, "_graft_export_stage")
        visible(log.readVersion(v)).write.mode("overwrite").parquet(stage.toString)
        val parts = fs.listStatus(stage)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(_.getPath).sortBy(_.getName)
        val moved = parts.map { p =>
          if (!fs.rename(p, new Path(dataDir, p.getName)))
            throw new java.io.IOException(s"exportIceberg: move of ${p.getName} failed")
          p.getName
        }
        fs.delete(stage, true)
        moved.toSeq
      }

    // native MoR tombstones → ONE v2 position-delete parquet
    // (file_path, pos with the spec's reserved field ids 2147483546 /
    // 2147483545, sorted by (file_path, pos) as the spec requires),
    // referenced from a content=deletes manifest. The byte-copy above
    // stays valid: no data file is rewritten to export a deleted row.
    // Returns (delete file name, tombstone count) when tombstones exist.
    val deleteFileInfo: Option[(String, Long)] =
      if (!flat || log.dvFiles(v).isEmpty) None
      else {
        import org.apache.spark.sql.functions.{broadcast, col}
        import spark.implicits._
        val pathOf = names.map(n => n -> new Path(dataDir, n).toString)
          .toDF("_graft_del_file", "file_path_full")
        val tomb = spark.read.parquet(log.dvFiles(v).map(n =>
            new Path(new Path(commitRoot, "data"), n).toString): _*)
          .join(broadcast(pathOf), Seq("_graft_del_file"))
          .select(
            col("file_path_full").as("file_path",
              new org.apache.spark.sql.types.MetadataBuilder()
                .putLong("parquet.field.id", 2147483546L).build()),
            col("_graft_del_pos").cast("long").as("pos",
              new org.apache.spark.sql.types.MetadataBuilder()
                .putLong("parquet.field.id", 2147483545L).build()))
          .orderBy("file_path", "pos")
          .coalesce(1)
        val stage = new Path(destPath, "_graft_delete_stage")
        tomb.write.mode("overwrite").parquet(stage.toString)
        val part = fs.listStatus(stage)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(_.getPath).headOption
        val out = part.flatMap { p =>
          val delName = s"${java.util.UUID.randomUUID().toString}-deletes.parquet"
          if (!fs.rename(p, new Path(dataDir, delName)))
            throw new java.io.IOException("exportIceberg: move of delete file failed")
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(new Path(dataDir, delName), fs.getConf))
          val count = try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
            finally reader.close()
          // tombstones all referencing dropped files net to zero deletes
          if (count == 0L) { fs.delete(new Path(dataDir, delName), false); None }
          else Some((delName, count))
        }
        fs.delete(stage, true)
        out
      }

    val now = System.currentTimeMillis()
    val snapshotId = math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
    val uuid = java.util.UUID.randomUUID().toString

    // a declared schema with column renames exports under the
    // LOGICAL names, with the spec's own indirection carrying the
    // physical file columns: `schema.name-mapping.default` maps the
    // names the (byte-copied) parquet files store — which lack Iceberg
    // field-id metadata — to the schema's field ids. Readers resolve
    // renamed columns with zero data rewrite, exactly as the commit log
    // itself does.
    val declared = meta.schema
    val renames = declared.map(ColumnMapping.renames).getOrElse(Map.empty)
    val exportSchema = declared match {
      case Some(d) => StructType(d.map(f =>
        org.apache.spark.sql.types.StructField(f.name, f.dataType, f.nullable)))
      case None => schema
    }

    // per-file (rows, bytes) from footers/listing — metadata-scale
    val fileInfo = names.map { n =>
      val p = new Path(dataDir, n)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, fs.getConf))
      val rows = try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally reader.close()
      (n, rows, fs.getFileStatus(p).getLen)
    }
    val totalRows = fileInfo.map(_._2).sum

    // ---- manifest (one, content=data) ------------------------------------
    val (schemaJson, lastColumnId) = icebergSchemaJson(exportSchema)
    val manifestName = s"$uuid-m0.avro"
    val manifestPath = new Path(metaDir, manifestName)
    val partitionRecord = new GenericData.Record(
      manifestEntrySchema.getField("data_file").schema().getField("partition").schema())
    locally {
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](manifestEntrySchema))
      writer.setMeta("schema", schemaJson)
      writer.setMeta("schema-id", "0")
      writer.setMeta("partition-spec", "[]")
      writer.setMeta("partition-spec-id", "0")
      writer.setMeta("format-version", "2")
      writer.setMeta("content", "data")
      val out = fs.create(manifestPath, true)
      writer.create(manifestEntrySchema, out)
      fileInfo.foreach { case (n, rows, bytes) =>
        val df = new GenericData.Record(
          manifestEntrySchema.getField("data_file").schema())
        df.put("content", 0)
        df.put("file_path", new Path(dataDir, n).toString)
        df.put("file_format", "PARQUET")
        df.put("partition", partitionRecord)
        df.put("record_count", rows)
        df.put("file_size_in_bytes", bytes)
        val entry = new GenericData.Record(manifestEntrySchema)
        entry.put("status", 1)                       // ADDED
        entry.put("snapshot_id", snapshotId)
        entry.put("sequence_number", 1L)
        entry.put("file_sequence_number", 1L)
        entry.put("data_file", df)
        writer.append(entry)
      }
      writer.close()
    }
    val manifestLen = fs.getFileStatus(manifestPath).getLen

    // ---- delete manifest (content=deletes), when tombstones exported -----
    // position deletes at the SAME sequence number apply to these data
    // files per the spec (only EQUALITY deletes need a strictly lower
    // data sequence), so one snapshot carries both manifests at seq 1
    val deleteManifest: Option[(Path, Long, Long)] =
      deleteFileInfo.map { case (delName, count) =>
        val mName = s"$uuid-m1.avro"
        val mPath = new Path(metaDir, mName)
        val writer = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](manifestEntrySchema))
        writer.setMeta("schema", schemaJson)
        writer.setMeta("schema-id", "0")
        writer.setMeta("partition-spec", "[]")
        writer.setMeta("partition-spec-id", "0")
        writer.setMeta("format-version", "2")
        writer.setMeta("content", "deletes")
        val out = fs.create(mPath, true)
        writer.create(manifestEntrySchema, out)
        val df = new GenericData.Record(
          manifestEntrySchema.getField("data_file").schema())
        df.put("content", 1)                         // POSITION_DELETES
        df.put("file_path", new Path(dataDir, delName).toString)
        df.put("file_format", "PARQUET")
        df.put("partition", partitionRecord)
        df.put("record_count", count)
        df.put("file_size_in_bytes",
          fs.getFileStatus(new Path(dataDir, delName)).getLen)
        val entry = new GenericData.Record(manifestEntrySchema)
        entry.put("status", 1)                       // ADDED
        entry.put("snapshot_id", snapshotId)
        entry.put("sequence_number", 1L)
        entry.put("file_sequence_number", 1L)
        entry.put("data_file", df)
        writer.append(entry)
        writer.close()
        (mPath, fs.getFileStatus(mPath).getLen, count)
      }

    // ---- manifest list ---------------------------------------------------
    val listName = s"snap-$snapshotId-1-$uuid.avro"
    val listPath = new Path(metaDir, listName)
    locally {
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](manifestFileSchema))
      writer.setMeta("format-version", "2")
      val out = fs.create(listPath, true)
      writer.create(manifestFileSchema, out)
      val mf = new GenericData.Record(manifestFileSchema)
      mf.put("manifest_path", manifestPath.toString)
      mf.put("manifest_length", manifestLen)
      mf.put("partition_spec_id", 0)
      mf.put("content", 0)
      mf.put("sequence_number", 1L)
      mf.put("min_sequence_number", 1L)
      mf.put("added_snapshot_id", snapshotId)
      mf.put("added_files_count", names.length)
      mf.put("existing_files_count", 0)
      mf.put("deleted_files_count", 0)
      mf.put("added_rows_count", totalRows)
      mf.put("existing_rows_count", 0L)
      mf.put("deleted_rows_count", 0L)
      writer.append(mf)
      deleteManifest.foreach { case (mPath, mLen, count) =>
        val dm = new GenericData.Record(manifestFileSchema)
        dm.put("manifest_path", mPath.toString)
        dm.put("manifest_length", mLen)
        dm.put("partition_spec_id", 0)
        dm.put("content", 1)                         // DELETES
        dm.put("sequence_number", 1L)
        dm.put("min_sequence_number", 1L)
        dm.put("added_snapshot_id", snapshotId)
        dm.put("added_files_count", 1)
        dm.put("existing_files_count", 0)
        dm.put("deleted_files_count", 0)
        dm.put("added_rows_count", count)
        dm.put("existing_rows_count", 0L)
        dm.put("deleted_rows_count", 0L)
        writer.append(dm)
      }
      writer.close()
    }

    // ---- table metadata (v2) + version hint ------------------------------
    val metadata = mapper.createObjectNode()
    metadata.put("format-version", 2)
    metadata.put("table-uuid", uuid)
    metadata.put("location", destPath.toString)
    metadata.put("last-sequence-number", 1L)
    metadata.put("last-updated-ms", now)
    metadata.put("last-column-id", lastColumnId)
    metadata.put("current-schema-id", 0)
    metadata.putArray("schemas").add(mapper.readTree(schemaJson))
    metadata.put("default-spec-id", 0)
    locally {
      val spec = mapper.createObjectNode()
      spec.put("spec-id", 0)
      spec.putArray("fields")
      metadata.putArray("partition-specs").add(spec)
    }
    // spec: partition field ids start at 1000; none assigned yet
    metadata.put("last-partition-id", 999)
    metadata.put("default-sort-order-id", 0)
    locally {
      val order = mapper.createObjectNode()
      order.put("order-id", 0)
      order.putArray("fields")
      metadata.putArray("sort-orders").add(order)
    }
    locally {
      val props = metadata.putObject("properties")
      if (renames.nonEmpty) {
        // top-level ids are 1..n in field order (icebergSchemaJson's
        // assignment); "names" lists every file-column spelling that
        // resolves to the field — the physical name the copied files
        // store, plus the logical name new files would
        val arr = mapper.createArrayNode()
        declared.get.fields.zipWithIndex.foreach { case (f, i) =>
          val e = mapper.createObjectNode()
          e.put("field-id", i + 1)
          val ns = e.putArray("names")
          ns.add(ColumnMapping.physicalName(f))
          if (ColumnMapping.physicalName(f) != f.name) ns.add(f.name)
          arr.add(e)
        }
        props.put("schema.name-mapping.default", mapper.writeValueAsString(arr))
      }
    }
    metadata.put("current-snapshot-id", snapshotId)
    locally {
      val main = metadata.putObject("refs").putObject("main")
      main.put("snapshot-id", snapshotId)
      main.put("type", "branch")
    }
    locally {
      val snap = mapper.createObjectNode()
      snap.put("snapshot-id", snapshotId)
      snap.put("sequence-number", 1L)
      snap.put("timestamp-ms", now)
      snap.put("manifest-list", listPath.toString)
      snap.putObject("summary").put("operation", "append")
      snap.put("schema-id", 0)
      metadata.putArray("snapshots").add(snap)
    }
    metadata.putArray("snapshot-log")
    metadata.putArray("metadata-log")
    LogStore.write(fs, new Path(metaDir, "v1.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(metadata))
    LogStore.write(fs, new Path(metaDir, "version-hint.text"),
      "1".getBytes(StandardCharsets.UTF_8))
    names.length
  }

  /** Read an Iceberg table's current snapshot into a DataFrame by
    * resolving its live file list through the format ([[readFileList]])
    * and scanning the named parquet files distributed. Honors
    * `schema.name-mapping.default` (the spec's indirection for data
    * files without field-id metadata): file columns listed under a
    * field's "names" surface under the schema's (logical) field name —
    * how a renamed-column export reads back correctly. Unpartitioned
    * Iceberg layouts carry every column in the data files, so no
    * partition rehydration is needed; a hive-layout'd Iceberg table
    * would additionally need the spec's partition JSON → column mapping
    * (out of scope until an asset arrives shaped that way).
    */
  /** Scheme AND authority prefix of a path URI (`file://`, `s3a://bucket`,
    * `hdfs://nn:8020`, `file:` …) — stripped before comparing a delete
    * file's recorded `file_path` against `_metadata.file_path` (whose
    * scheme spelling differs by reader), and before joining either
    * against [[CommitLog.commitCopiedWithTombstones]]'s pooled-file map,
    * which keys by `Path.toUri.getPath`. `getPath` drops the authority,
    * so the column-side normalization MUST drop it too: Iceberg metadata
    * on S3A/HDFS records fully-qualified URIs (`s3a://bucket/key`), and
    * a scheme-only strip would leave `bucket/key` vs `/key` — every
    * tombstone silently unmatched. All files of one table share one
    * filesystem, so dropping the authority cannot alias two files.
    * IcebergInteropSpec pins the regex ≡ `new Path(_).toUri.getPath`
    * on authority-bearing URIs.
    */
  private[graft] val SchemeRx = HadoopFs.UriPrefixRx

  /** `(file path sans scheme, row position)` of every row the EQUALITY
    * delete tier kills: per equality-field group, a semi-join of the
    * data rows against the delete rows under the spec's rule — values
    * null-safe-equal AND the data file's sequence number STRICTLY below
    * the delete file's. One extra pass over the data files, paid only
    * by tables that actually carry equality deletes (Flink-CDC-style
    * writers); the matching itself is executor-side.
    *
    * Name-mapped tables resolve each equality field id through
    * `schema.name-mapping.default`: the mapping is per-TABLE for flat
    * schemas, so a field's file column is whichever mapped name (or the
    * logical name — post-rename writers store it directly) is present —
    * resolved once against the merged data schema, and per FILE on the
    * delete side (a delete writer may predate or postdate a rename).
    */
  private def equalityDeletedPositions(spark: SparkSession,
      metadata: com.fasterxml.jackson.databind.JsonNode,
      data: Seq[IceFile], eqDel: Seq[IceFile],
      table: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit, regexp_replace}
    import spark.implicits._
    val schemaId = metadata.get("current-schema-id").asInt
    val cur = metadata.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt == schemaId)
      .getOrElse(throw new IllegalStateException(
        s"current schema $schemaId missing from $table metadata"))
    val nameOf = cur.get("fields").elements().asScala
      .map(f => f.get("id").asInt -> f.get("name").asText).toMap
    // field id → file-column candidates from the name mapping (empty on
    // unmapped tables, where files store the logical names directly)
    val mappedNames: Map[Int, Seq[String]] = Option(metadata.get("properties"))
      .flatMap(p => Option(p.get("schema.name-mapping.default"))).map(_.asText) match {
      case None => Map.empty
      case Some(j) => mapper.readTree(j).elements().asScala.map { e =>
        e.get("field-id").asInt ->
          e.get("names").elements().asScala.map(_.asText).toSeq
      }.toMap
    }
    def resolve(id: Int, present: Set[String], what: String): String = {
      val cands = mappedNames.getOrElse(id, Seq.empty) ++ nameOf.get(id).toSeq
      if (cands.isEmpty) throw new IllegalStateException(
        s"equality id $id not in the current schema of $table")
      cands.find(present.contains).getOrElse(throw new IllegalStateException(
        s"readIceberg: equality id $id resolves to none of " +
          s"[${cands.mkString(", ")}] in $what of $table"))
    }
    val seqDf = data.map(f => (f.path.replaceFirst(SchemeRx, ""), f.seq))
      .toDF("_ice_fpath", "_ice_fseq")
    val base = spark.read.option("mergeSchema", "true")
      .parquet(data.map(_.path): _*)
      .withColumn("_ice_fpath",
        regexp_replace(col("_metadata.file_path"), SchemeRx, ""))
      .withColumn("_ice_pos", col("_metadata.row_index"))
      .join(broadcast(seqDf), Seq("_ice_fpath"))
    val dataPresent = base.columns.toSet
    eqDel.groupBy(_.equalityIds.sorted).toSeq
      .map { case (ids, dfs) =>
        require(ids.nonEmpty,
          s"readIceberg: equality delete with no equality_ids in $table")
        // delete columns alias by FIELD ID (stable across naming drift)
        val dels = dfs.map { d =>
            val raw = spark.read.parquet(d.path)
            val present = raw.columns.toSet
            raw.select(ids.map(id =>
                col(s"`${resolve(id, present, s"delete file ${d.path}")}`")
                  .as(s"_ice_d_$id")): _*)
              .withColumn("_ice_dseq", lit(d.seq))
          }
          .reduce(_.unionByName(_))
        // data files spanning a rename surface BOTH the old and the new
        // physical column through mergeSchema, each file populating
        // exactly one (the other reads NULL there) — so the data side
        // compares against coalesce() of EVERY present candidate, never
        // the first-present pick, or rows in the other naming era fail
        // the <=> match and silently escape their delete. Safe because
        // an Iceberg name mapping keeps names unique per level: two
        // field ids cannot claim the same file column.
        def dataSide(id: Int): org.apache.spark.sql.Column = {
          val cands = (mappedNames.getOrElse(id, Seq.empty) ++ nameOf.get(id).toSeq)
            .distinct.filter(dataPresent.contains)
          if (cands.isEmpty) throw new IllegalStateException(
            s"readIceberg: equality id $id resolves to no column of " +
              s"the data files of $table")
          if (cands.size == 1) col(s"`${cands.head}`")
          else org.apache.spark.sql.functions.coalesce(cands.map(c => col(s"`$c`")): _*)
        }
        val cond = ids.map(id => dataSide(id) <=> col(s"_ice_d_$id"))
          .reduce(_ && _) && col("_ice_fseq") < col("_ice_dseq")
        base.join(dels, cond, "left_semi")
          .select(col("_ice_fpath"), col("_ice_pos"))
      }
      .reduce(_.unionByName(_))
      .distinct()
  }

  def readIceberg(spark: SparkSession, table: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val resolved = resolveFiles(spark, table)
    val dataF = resolved.filter(_.content == 0)
    val posDel = resolved.filter(_.content == 1)
    val eqDel = resolved.filter(_.content == 2)
    require(dataF.nonEmpty, s"Iceberg table $table has no live data files")
    val metadata = loadMetadata(spark, table)
    // (path, row index) of every data row, materialized ONCE on the raw
    // file relation — `_metadata` is a scan-time pseudo-column, gone
    // after any projection, so BOTH delete tiers must key off the same
    // derivation (position+equality together broke the old per-tier
    // re-derivation; IcebergInteropSpec's name-mapped test pins this)
    // mergeSchema: data files spanning a rename store different physical
    // column names per era — first-file schema inference would silently
    // drop the other era's column (the name-mapping projection below
    // coalesces the candidates back into one logical column)
    val raw0 = spark.read.option("mergeSchema", "true")
      .parquet(dataF.map(_.path): _*)
      .withColumn("_ice_path",
        regexp_replace(col("_metadata.file_path"), SchemeRx, ""))
      .withColumn("_ice_pos", col("_metadata.row_index"))
    // v2 position deletes: anti-join each data row's (path, row index)
    // against the delete files — the same MoR shape the commit log's own
    // tombstone read uses. Delete-file volume is the delete volume, so
    // the join stays executor-side (no driver materialization).
    val afterPos = if (posDel.isEmpty) raw0 else {
      val dels = spark.read.parquet(posDel.map(_.path): _*)
        .select(regexp_replace(col("file_path"), SchemeRx, "").as("_ice_path"),
          col("pos").cast("long").as("_ice_pos"))
      raw0.join(dels, Seq("_ice_path", "_ice_pos"), "left_anti")
    }
    // v2 equality deletes: resolved to (file, position) once, shared
    // with the import path
    val raw = (if (eqDel.isEmpty) afterPos else {
      val eqPos = equalityDeletedPositions(spark, metadata, dataF, eqDel, table)
        .withColumnRenamed("_ice_fpath", "_ice_path")
      afterPos.join(eqPos, Seq("_ice_path", "_ice_pos"), "left_anti")
    }).drop("_ice_path", "_ice_pos")
    val mappingJson = Option(metadata.get("properties"))
      .flatMap(p => Option(p.get("schema.name-mapping.default"))).map(_.asText)
    mappingJson match {
      case None => raw
      case Some(j) =>
        // field-id → logical name from the current schema
        val schemaId = metadata.get("current-schema-id").asInt
        val cur = metadata.get("schemas").elements().asScala
          .find(_.get("schema-id").asInt == schemaId)
          .getOrElse(throw new IllegalStateException(
            s"current schema $schemaId missing from $table metadata"))
        val logicalOf = cur.get("fields").elements().asScala
          .map(f => f.get("id").asInt -> f.get("name").asText).toMap
        // file columns → field id → logical name; rename-spanning data
        // sets surface several candidate columns per field (one era
        // each), so the logical column coalesces ALL present candidates
        // — a first-present pick read NULL for every other-era row
        val present = raw.columns.toSet
        val cols = mapper.readTree(j).elements().asScala.flatMap { e =>
          val id = e.get("field-id").asInt
          val cands = e.get("names").elements().asScala.map(_.asText)
            .filter(present.contains).toSeq
          if (cands.isEmpty) None
          else logicalOf.get(id).map { l =>
            val c =
              if (cands.size == 1)
                org.apache.spark.sql.functions.col(s"`${cands.head}`")
              else org.apache.spark.sql.functions.coalesce(
                cands.map(n => org.apache.spark.sql.functions.col(s"`$n`")): _*)
            c.as(l)
          }
        }.toSeq
        raw.select(cols: _*)
    }
  }

  /** Import an Iceberg table's current snapshot into a [[CommitLog]]
    * table (one commit) — the inbound half of the interop, mirroring
    * [[DeltaInterop.importDelta]]. Unmapped tables take the byte-copy
    * path: data files pool unchanged and BOTH v2 delete tiers translate
    * into native MoR `(file, pos)` tombstones in the same atomic commit
    * ([[CommitLog.commitCopiedWithTombstones]]) — position deletes map
    * directly, equality deletes resolve to positions with one data scan
    * ([[equalityDeletedPositions]]) — O(bytes copied + one scan), no
    * decode/re-encode, with the delete rows flowing executor-side
    * (delete files can be arbitrarily large). Name-mapped tables
    * materialize through [[readIceberg]] (their file columns carry
    * physical names the commit log would surface raw).
    */
  def importIceberg(spark: SparkSession, icebergTable: String, commitRoot: String,
      replace: Boolean = true): Long = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val resolved = resolveFiles(spark, icebergTable)
    val dataF = resolved.filter(_.content == 0)
    val posDel = resolved.filter(_.content == 1)
    val eqDel = resolved.filter(_.content == 2)
    val metadata = loadMetadata(spark, icebergTable)
    val mapped = Option(metadata.get("properties"))
      .flatMap(p => Option(p.get("schema.name-mapping.default"))).isDefined
    if (!mapped && dataF.nonEmpty) {
      val posTombs =
        if (posDel.isEmpty) None
        else Some(spark.read.parquet(posDel.map(_.path): _*)
          .select(regexp_replace(col("file_path"), SchemeRx, "").as("_graft_src"),
            col("pos").cast("long").as("_graft_del_pos")))
      // equality deletes RESOLVE to positions at import time (one scan),
      // then ride the same native tombstone plane as position deletes —
      // the imported table needs no equality machinery ever again
      val eqTombs =
        if (eqDel.isEmpty) None
        else Some(equalityDeletedPositions(spark, metadata, dataF, eqDel, icebergTable)
          .select(col("_ice_fpath").as("_graft_src"),
            col("_ice_pos").cast("long").as("_graft_del_pos")))
      val tombs = (posTombs, eqTombs) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b).distinct())
        case (a, b) => a.orElse(b)
      }
      new CommitLog(spark, commitRoot).commitCopiedWithTombstones(
        dataF.map(f => new Path(f.path)), tombs, replace)
    } else
      new CommitLog(spark, commitRoot).commit(readIceberg(spark, icebergTable), replace)
  }

  /** Resolve an exported table's CURRENT data-file paths the way an
    * Iceberg reader does: version hint → metadata JSON → current
    * snapshot's manifest list (Avro) → manifests (Avro) → live
    * `file_path`s (status != DELETED). The round-trip proof that the
    * emitted bytes really are the open format, not a private echo.
    */
  /** Version hint → current table-metadata JSON (HadoopCatalog layout). */
  private def loadMetadata(spark: SparkSession,
      table: String): com.fasterxml.jackson.databind.JsonNode = {
    val fs = HadoopFs.fs(spark, table)
    val metaDir = new Path(table, "metadata")
    val hint = LogStore.readString(fs, new Path(metaDir, "version-hint.text")).trim
    mapper.readTree(LogStore.readBytes(fs, new Path(metaDir, s"v$hint.metadata.json")))
  }

  def readFileList(spark: SparkSession, table: String): Seq[String] =
    resolveFiles(spark, table).collect { case f if f.content == 0 => f.path }

  /** Live `(data files, position-delete files)` of the current snapshot
    * (equality-delete files are resolved separately by [[readIceberg]]).
    */
  private[graft] def readFileLists(spark: SparkSession,
      table: String): (Seq[String], Seq[String]) = {
    val fs0 = resolveFiles(spark, table)
    (fs0.collect { case f if f.content == 0 => f.path },
      fs0.collect { case f if f.content == 1 => f.path })
  }

  /** One live file of the current snapshot: data (content 0), position
    * deletes (1), or equality deletes (2, with the equality field ids);
    * `seq` is the entry's data sequence number (inherited from its
    * manifest when the entry carries none — the spec's inheritance
    * rule), which gates which data files an equality delete applies to.
    */
  private[graft] case class IceFile(path: String, seq: Long, content: Int,
      equalityIds: Seq[Int])

  private[graft] def resolveFiles(spark: SparkSession,
      table: String): Seq[IceFile] = {
    val fs = HadoopFs.fs(spark, table)
    val metadata = loadMetadata(spark, table)
    val snapshotId = metadata.get("current-snapshot-id").asLong
    val snap = metadata.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == snapshotId)
      .getOrElse(throw new IllegalStateException(
        s"current snapshot $snapshotId missing from $table metadata"))
    def avroRecords(p: Path): Seq[GenericRecord] = {
      // avro's SeekableInput over a local copy: hadoop streams don't
      // expose the interface directly and these files are metadata-small
      val tmp = java.io.File.createTempFile("graft_iceberg", ".avro")
      try {
        java.nio.file.Files.write(tmp.toPath, LogStore.readBytes(fs, p))
        val r = new DataFileReader[GenericRecord](tmp,
          new GenericDatumReader[GenericRecord]())
        try r.iterator().asScala.toSeq finally r.close()
      } finally { tmp.delete(): Unit }
    }
    val manifests = avroRecords(new Path(snap.get("manifest-list").asText))
      .map(m => (m.get("manifest_path").toString,
        Option(m.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(1L)))
    manifests.flatMap { case (mp, mseq) =>
      avroRecords(new Path(mp)).flatMap { e =>
        if (e.get("status").asInstanceOf[Int] == 2) None   // DELETED
        else {
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val content = Option(df.get("content"))
            .map(_.asInstanceOf[Int]).getOrElse(0)
          val seq = Option(e.get("sequence_number"))
            .map(_.asInstanceOf[Long]).getOrElse(mseq)
          val eqIds =
            if (df.getSchema.getField("equality_ids") == null) Seq.empty[Int]
            else Option(df.get("equality_ids")) match {
              case Some(c: java.util.Collection[_]) =>
                c.asScala.toSeq.map(_.asInstanceOf[Int])
              case _ => Seq.empty[Int]
            }
          Some(IceFile(df.get("file_path").toString, seq, content, eqIds))
        }
      }
    }
  }
}
