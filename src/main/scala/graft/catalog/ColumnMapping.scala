package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** Logical→physical column-name indirection for commit-log tables — the
  * piece that makes `ALTER TABLE … RENAME/DROP COLUMN` a metadata-only
  * operation (no data-file rewrite), the same role Iceberg field ids and
  * Delta column mapping play in their formats.
  *
  * The mapping rides the declared schema ([[TableMeta]]) as per-field
  * metadata under [[PhysicalKey]]: a field whose logical name diverged
  * from the name stored in the parquet files carries the physical name
  * it still reads/writes under. Tables that never renamed have no
  * metadata and behave exactly as before (physical == logical).
  *
  * The same descriptor remembers physical names that were EVER dropped
  * plus a monotonic counter, so a column re-added under a dropped (or
  * renamed-away) name binds to a FRESH physical name instead of
  * resurrecting the old column's bytes — the field-id discipline,
  * spelled with unique physical names.
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
}
