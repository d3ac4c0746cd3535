package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** No pooling path publishes a zero-row entry: Spark writes a schema-only
  * part for an empty first partition, and external writers hand over empty
  * files, but a stats-less, never-prunable entry must not reach a manifest.
  * Each case writes through one pooling path and checks every data entry
  * of the new head.
  */
class ZeroRowPoolSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  /** One parquet file holding `df`'s rows (possibly none). */
  private def oneFile(df: DataFrame): Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_zr_src").toString + "/d"
    df.coalesce(1).write.parquet(dir)
    HadoopFs.fs(spark, dir).listStatus(new Path(dir)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
  }

  private def rows(kv: (Long, String)*): DataFrame = kv.toDF("k", "p")

  /** Four seed files of two keys each. */
  private def spread(kv: (Long, String)*): DataFrame =
    spark.sparkContext.parallelize(kv, 4).toDF("k", "p")

  private val seed = Seq(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "b",
    5L -> "a", 6L -> "a", 7L -> "b", 8L -> "b")

  private case class PoolCase(name: String, write: CommitLog => Any,
      expect: Set[(Long, String)])

  private val cases = Seq(
    // every key of the touched files is replaced: the anti-join's
    // survivors are empty in every partition, partition 0 included
    PoolCase("CoW merge over empty anti-join partitions", { l =>
      l.commit(spread(seed: _*), replace = false)
      l.merge(rows(seed.map { case (k, _) => k -> "u" }: _*), "k")
    }, seed.map { case (k, _) => k -> "u" }.toSet),
    PoolCase("partitioned merge", { l =>
      l.commitPartitioned(spread(seed: _*), Seq("p"), replace = true)
      l.merge(rows(1L -> "a", 2L -> "a", 5L -> "a", 6L -> "a", 9L -> "b"), "k")
    }, seed.toSet + (9L -> "b")),
    PoolCase("commitPooledFiles with an empty file", { l =>
      l.commit(rows(1L -> "a"), replace = false)
      l.commitPooledFiles(Seq(oneFile(rows()), oneFile(rows(2L -> "b"))),
        replace = false, None)
    }, Set(1L -> "a", 2L -> "b")),
    PoolCase("commitCopiedWithTombstones with an empty source", { l =>
      l.commit(rows(1L -> "a"), replace = false)
      l.commitCopiedWithTombstones(Seq(oneFile(rows()), oneFile(rows(2L -> "b"))),
        None, replace = false)
    }, Set(1L -> "a", 2L -> "b")))

  cases.foreach { c =>
    test(s"${c.name}: every data entry of the new head has rows") {
      val log = new CommitLog(spark, tmp("graft_zero_row"))
      c.write(log)
      val details = log.fileDetails(log.currentVersion.get)
      assert(details.nonEmpty)
      assert(details.forall(_.rows.exists(_ > 0)), s"zero-row entry published: $details")
      assert(log.read().select("k", "p").as[(Long, String)].collect().toSet == c.expect)
    }
  }
}

/** The streaming sink's commit entry point, for specs outside `graft.catalog`. */
object SinkCommit {
  def apply(log: CommitLog, paths: Seq[Path], replace: Boolean): Long =
    log.commitPooledFiles(paths, replace, None)
}
