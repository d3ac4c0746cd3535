package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{SerializableConfiguration, ThreadUtils}

/** Bridge into the `private[sql]` Dataset constructor so graft can wrap a
  * custom LogicalPlan (graft.plans.AsOfJoinPlan) as a public DataFrame —
  * the standard packaging trick for out-of-tree Catalyst operators.
  */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  private def conf(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** The session settings under which Spark's parquet schema inference
    * converts a footer's bare parquet schema
    * (`ParquetFileFormat.mergeSchemasInParallel`). A footer that records
    * Spark's row-metadata schema converts the same under any of them.
    */
  final case class FooterConversion(binaryAsString: Boolean, int96AsTimestamp: Boolean,
      inferTimestampNTZ: Boolean, nanosAsLong: Boolean, respectUnknownTypes: Boolean) {
    private def converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = binaryAsString, assumeInt96IsTimestamp = int96AsTimestamp,
      inferTimestampNTZ = inferTimestampNTZ, nanosAsLong = nanosAsLong,
      respectUnknownTypeAnnotation = respectUnknownTypes)

    /** The schema inference takes from the footer of `path`
      * (`ParquetFileFormat.readSchemaFromFooter`).
      */
    def schemaOf(path: Path, footer: ParquetMetadata): StructType =
      ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer), converter)
  }

  def footerConversion(spark: SparkSession): FooterConversion = {
    val c = conf(spark)
    FooterConversion(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** The [[FooterConversion.schemaOf]] of each parquet file of `files`
    * (path, byte length), keyed by its path string, read in one Spark job
    * the way schema inference reads footers
    * (`SchemaMergeUtils.mergeSchemasInParallel`): at most one task per
    * core, each reading up to 8 footers at once. An unreadable footer
    * fails the job, unless
    * `spark.sql.files.ignoreCorruptFiles` leaves its file out.
    */
  def footerSchemasInParallel(spark: SparkSession, conv: FooterConversion,
      files: Seq[(String, Long)]): Map[String, StructType] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val hadoopConf = new SerializableConfiguration(session.sessionState.newHadoopConf())
    val ignoreCorruptFiles = conf(spark).ignoreCorruptFiles
    val sc = spark.sparkContext
    sc.parallelize(files, math.min(files.size, sc.defaultParallelism))
      .mapPartitions { it =>
        val conf = hadoopConf.value
        val options = HadoopReadOptions.builder(conf)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
        ThreadUtils.parmap(it.toSeq, "graftFooterSchemas", 8) { case (p, len) =>
          val path = new Path(p)
          val status = new FileStatus(len, false, 0, 0, 0, 0, null, null, null, path)
          try {
            val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf), options)
            try Some(p -> conv.schemaOf(path, reader.getFooter)) finally reader.close()
          } catch {
            case e @ (_: RuntimeException | _: java.io.IOException) =>
              if (ignoreCorruptFiles) None
              else throw new SparkException(s"Could not read footer for file: $p", e)
          }
        }.iterator.flatten
      }.collect().toMap
  }

  /** `schemas` merged left to right, as a `mergeSchema` parquet read
    * merges its files' schemas, failing with the same error on a
    * conflict.
    */
  def mergedSchema(spark: SparkSession, schemas: Seq[StructType]): StructType = {
    val caseSensitive = conf(spark).caseSensitiveAnalysis
    schemas.reduceLeft { (acc, s) =>
      try acc.merge(s, caseSensitive)
      catch {
        case e: SparkException => throw QueryExecutionErrors.failedMergingSchemaError(acc, s, e)
      }
    }
  }
}
