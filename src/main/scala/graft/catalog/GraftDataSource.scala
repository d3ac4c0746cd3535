package graft.catalog

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Path-based access to commit-log tables WITHOUT a catalog —
  * `spark.read.format("graft").load(root)` (registered via
  * `DataSourceRegister`, so the short name resolves from
  * META-INF/services like any built-in source):
  *
  * {{{
  *   spark.read.format("graft").load("/lake/t")                       // head snapshot
  *   spark.read.format("graft").option("versionAsOf", 3).load("/lake/t")
  *   spark.read.format("graft").option("timestampAsOfMs", t).load("/lake/t")
  *   df.write.format("graft").mode("append").save("/lake/t")
  *   spark.readStream.format("graft").load("/lake/t")                 // commit tail
  *   df.writeStream.format("graft").option("path", "/lake/t").start() // epoch commits
  * }}}
  *
  * The resolved [[GraftTable]] is the SAME class the catalog serves, so
  * every capability — pushdown-preserving batch scan, commit-version
  * micro-batch source with admission control, txn-deduped streaming
  * sink, time travel — behaves identically whether a table is reached
  * by name or by path (the reference's data plane is per-source S3
  * paths, cft/sourceSystem.yaml:20-27, so path addressing is the
  * primary key there). Schema and partitioning resolve exactly as the
  * catalog resolves them ([[GraftTable.resolve]]), so a table created
  * through the catalog and later read by path sees its declarations.
  */
final class GraftDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // writes into a not-yet-populated root take the QUERY's schema (the
  // streaming-sink bootstrap case); reads of committed tables ignore it
  // in favor of the declared schema/footers
  override def supportsExternalMetadata(): Boolean = true

  private def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft: a table root path is required — .load(path) / .option(\"path\", ...)"))

  private def resolve(options: CaseInsensitiveStringMap,
      external: Option[StructType] = None): GraftTable = {
    val spark = SparkSession.active
    val root = rootOf(options)
    val log = new CommitLog(spark, root)
    val pinned: Option[Long] =
      Option(options.get("versionasof")).map(_.toLong)
        .orElse(Option(options.get("timestampasofms")).map { ts =>
          log.versionAsOf(ts.toLong).getOrElse(throw new IllegalArgumentException(
            s"graft: no commit at or before $ts under $root"))
        })
    require(pinned.isEmpty || log.currentVersion.nonEmpty, s"graft: no commits under $root")
    new GraftTable(spark, s"graft.`$root`", root, GraftTable.resolve(spark, root, external),
      pinned)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolve(options).schema

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    resolve(options).partitioning()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    resolve(new CaseInsensitiveStringMap(properties), Option(schema))
}
