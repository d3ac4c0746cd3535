package graft.bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.catalog.CommitLog

/** The catalog layer seen from outside: a CommitLog that times its read
  * and write entry points and counts the metadata accesses and publish
  * attempts reported through the engine's protected seams. Registry
  * tables get it through `AssetCatalog.newLog` / `AuditLog.newLog`.
  */
final class TracedLog(spark: SparkSession, root: String, tr: Tracer)
    extends CommitLog(spark, root) {

  override protected def onMetaAccess(kind: String): Unit =
    tr.count(s"catalog.meta_${kind}s")

  override protected def beforePublish(attempt: Int, v: Long): Unit = {
    tr.count("catalog.publish_attempts")
    if (attempt > 0) tr.count("catalog.publish_retries")
  }

  private def read[T](body: => T): T = {
    tr.count("catalog.read_calls")
    tr.span("catalog.read")(body)
  }

  private def write[T](body: => T): T =
    try tr.span("catalog.commit")(body)
    catch {
      case e: java.io.IOException if String.valueOf(e.getMessage).contains("lost the head race") =>
        tr.count("catalog.race_giveups")
        throw e
    }

  override def read(): DataFrame = read(super.read())
  override def readVersion(v: Long): DataFrame = read(super.readVersion(v))

  override def commit(df: DataFrame, replace: Boolean, txn: Option[String],
      header: Option[(String, String)]): Long = write(super.commit(df, replace, txn, header))
  override def merge(updates: DataFrame, keyCol: String, maxAttempts: Int,
      evolve: Boolean): Long = write(super.merge(updates, keyCol, maxAttempts, evolve))
  override def deleteKeys(keys: DataFrame, keyCol: String, maxAttempts: Int): Long =
    write(super.deleteKeys(keys, keyCol, maxAttempts))
  override def updateWhereMoR(cond: Column, sets: Seq[(String, Column)],
      maxAttempts: Int): Long = write(super.updateWhereMoR(cond, sets, maxAttempts))
}
