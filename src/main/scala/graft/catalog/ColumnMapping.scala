package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** Logical→physical column-name indirection for commit-log tables — the
  * piece that makes `ALTER TABLE … RENAME/DROP COLUMN` a metadata-only
  * operation (no data-file rewrite), the same role Iceberg field ids and
  * Delta column mapping play in their formats.
  *
  * The mapping rides the declared-schema sidecar (`_schema.json`) as
  * per-field metadata under [[PhysicalKey]]: a field whose logical name
  * diverged from the name stored in the parquet files carries the
  * physical name it still reads/writes under. Tables that never renamed
  * have no metadata and behave exactly as before (physical == logical).
  *
  * A second tiny sidecar (`_colmeta.json`) remembers physical names that
  * were EVER dropped plus a monotonic counter, so a column re-added under
  * a dropped (or renamed-away) name binds to a FRESH physical name
  * instead of resurrecting the old column's bytes — the field-id
  * discipline, spelled with unique physical names.
  *
  * Reference grounding: the reference's mutable registries let callers
  * update source-system schemas in place
  * (`lambda/aws-dl-fmwrk-source-system-api/lambda_function.py:94-111`),
  * so schema drift — including renames — is part of the contract being
  * re-expressed here.
  */
private[graft] object ColumnMapping {
  val PhysicalKey = "graft_physical"

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** logical → physical, only where they differ. */
  def renames(schema: StructType): Map[String, String] =
    schema.fields.iterator
      .map(f => f.name -> physicalName(f))
      .filter { case (l, p) => l != p }.toMap

  def hasRenames(schema: StructType): Boolean = renames(schema).nonEmpty

  /** Rename a logical-schema DataFrame to physical column names
    * (positional — `df` must already be resolved to the table's column
    * order, which is what the V2 insert path hands us).
    */
  def toPhysical(df: DataFrame, schema: StructType): DataFrame = {
    require(df.columns.length == schema.length,
      s"toPhysical: ${df.columns.length} query columns vs ${schema.length} table columns")
    df.toDF(schema.fields.map(physicalName).toIndexedSeq: _*)
  }

  /** The physical twin of a logical schema (names swapped, metadata
    * stripped) — what the data files actually store.
    */
  def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      StructField(physicalName(f), f.dataType, f.nullable, Metadata.empty)))

  def withPhysical(f: StructField, physical: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysicalKey, physical).build())

  // ---- dropped-name registry sidecar ------------------------------------

  /** (droppedPhysicalNames, nextSuffixSeq) from `_colmeta.json`. */
  def readMeta(fs: FileSystem, root: Path): (Set[String], Int) = {
    val f = new Path(root, "_colmeta.json")
    if (!fs.exists(f)) (Set.empty, 0)
    else {
      val body = LogStore.readString(fs, f)
      org.json4s.jackson.JsonMethods.parse(body) match {
        case org.json4s.JObject(fields) =>
          val m = fields.toMap
          val dropped = m.get("dropped") match {
            case Some(org.json4s.JArray(vs)) =>
              vs.collect { case org.json4s.JString(s) => s }.toSet
            case _ => Set.empty[String]
          }
          val seq = m.get("seq") match {
            case Some(org.json4s.JInt(n)) => n.toInt
            case _ => 0
          }
          (dropped, seq)
        case _ => (Set.empty, 0)
      }
    }
  }

  def writeMeta(fs: FileSystem, root: Path, dropped: Set[String], seq: Int): Unit = {
    import org.json4s.JsonDSL._
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("dropped" -> dropped.toSeq.sorted) ~ ("seq" -> seq)))
    LogStore.write(fs, new Path(root, "_colmeta.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
