package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{CommitLog, GraftTableCatalog, TableMeta}

/** The table descriptor: every metadata DDL lands in one root file,
  * `_table.json`, and a replica or clone receives it whole. Unique
  * catalog name: `gtd`.
  */
class TableDescriptorSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val warehouse: String = {
    val w = java.nio.file.Files.createTempDirectory("graft_td_wh").toString
    spark.conf.set("spark.sql.catalog.gtd", classOf[GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtd.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtd.db")
    w
  }

  private val oldSidecars = Set("_schema.json", "_colmeta.json", "_widen.json",
    "_props.json", "_partition.json", "_ptspec.json")

  private def fs = new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def assertOneDescriptor(root: String): Unit = {
    val names = fs.listStatus(new Path(root)).filter(_.isFile).map(_.getPath.getName).toSet
    assert(names.contains("_table.json"), s"$root: $names")
    assert(names.intersect(oldSidecars).isEmpty, s"$root: $names")
  }

  private def table(name: String): Table =
    spark.sessionState.catalogManager.catalog("gtd").asInstanceOf[GraftTableCatalog]
      .loadTable(Identifier.of(Array("db"), name))

  test("every metadata DDL writes _table.json and none of the old sidecars") {
    val root = s"$warehouse/db/f"
    spark.sql("CREATE TABLE gtd.db.f (k INT, name STRING, extra STRING) " +
      "TBLPROPERTIES ('a' = '1')")
    assertOneDescriptor(root)
    spark.sql("INSERT INTO gtd.db.f VALUES (1, 'x', 'e'), (2, 'y', 'f')")
    spark.sql("ALTER TABLE gtd.db.f RENAME COLUMN name TO label")
    spark.sql("ALTER TABLE gtd.db.f DROP COLUMN extra")
    spark.sql("ALTER TABLE gtd.db.f ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE gtd.db.f SET TBLPROPERTIES ('b' = '2')")
    assertOneDescriptor(root)
    new CommitLog(spark, root).setProperties(Map("c" -> "3"))
    spark.sql("CALL gtd.system.materialize_mapping('db.f')")
    assertOneDescriptor(root)
    val meta = TableMeta.read(fs, root)
    assert(meta.schema.map(_.fieldNames.toSeq).contains(Seq("k", "label")))
    assert(meta.schema.get("k").dataType == LongType)
    assert(meta.widened && meta.dropped == Set("extra"))
    assert(meta.props == Map("a" -> "1", "b" -> "2", "c" -> "3"))
    assert(spark.table("gtd.db.f").orderBy("k").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "x"), (2L, "y")))

    spark.sql("CREATE TABLE gtd.db.p (k BIGINT, cat STRING) PARTITIONED BY (cat)")
    spark.sql("CREATE TABLE gtd.db.t (k BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO gtd.db.t VALUES (1, TIMESTAMP '2024-01-05 10:00:00')")
    for (t <- Seq("p", "t")) assertOneDescriptor(s"$warehouse/db/$t")
    assert(TableMeta.read(fs, s"$warehouse/db/p").partCols == Seq("cat"))
    assert(TableMeta.read(fs, s"$warehouse/db/t").transforms.map(_.spec) == Seq("day(ts)"))

    val raw = java.nio.file.Files.createTempDirectory("graft_td_raw").toString
    new CommitLog(spark, raw).declareTransforms(
      new StructType().add("k", LongType), Seq("bucket(4, k)"))
    assertOneDescriptor(raw)
    assert(TableMeta.read(fs, raw).transforms.map(_.spec) == Seq("bucket(4, k)"))
  }

  test("a replicate or clone target reads the source's schema, props and partitioning") {
    warehouse
    spark.sql("CREATE TABLE gtd.db.rs (k INT, name STRING) " +
      "TBLPROPERTIES ('team' = 'x', 'p' = 'v')")
    spark.sql("INSERT INTO gtd.db.rs VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE gtd.db.rs RENAME COLUMN name TO label")
    spark.sql("ALTER TABLE gtd.db.rs ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO gtd.db.rs VALUES (10000000000, 'c')")
    spark.sql("CREATE TABLE gtd.db.rp (k BIGINT, cat STRING) PARTITIONED BY (cat)")
    spark.sql("INSERT INTO gtd.db.rp VALUES (1, 'a'), (2, 'b')")
    spark.sql("CREATE TABLE gtd.db.rt (k BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    spark.sql("INSERT INTO gtd.db.rt VALUES (1, TIMESTAMP '2024-01-05 10:00:00'), " +
      "(2, TIMESTAMP '2024-01-06 11:00:00')")
    val pairs = Seq("rs", "rp", "rt").map { s =>
      spark.sql(s"CALL gtd.system.replicate('db.$s', 'db.${s}_rep')"): Unit
      s -> s"${s}_rep"
    } :+ {
      spark.sql("CALL gtd.system.clone('db.rs', 'db.rs_cl')"): Unit
      "rs" -> "rs_cl"
    }
    for ((src, dst) <- pairs) {
      assertOneDescriptor(s"$warehouse/db/$dst")
      val (a, b) = (table(src), table(dst))
      assert(b.columns().toSeq == a.columns().toSeq, dst)
      assert(b.partitioning().map(_.toString).toSeq ==
        a.partitioning().map(_.toString).toSeq, dst)
      def props(t: Table) = t.properties().asScala.toMap - "location"
      assert(props(b) == props(a), dst)
      assert(spark.table(s"gtd.db.$dst").collect().toSet ==
        spark.table(s"gtd.db.$src").collect().toSet, dst)
    }
    assert(table("rs").properties().get("p") == "v")
    assert(table("rt").partitioning().map(_.toString).toSeq == Seq("days(ts)"))
  }
}
