package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CommitLog

/** Schema-evolving MERGE (both tiers): a batch carrying NEW columns
  * widens the table schema in the same commit — untouched files are
  * never rewritten for the schema change, existing rows read the new
  * columns as NULL, and the contract stays strict (evolution only ADDS
  * columns; a batch missing an existing column still bounces).
  */
class MergeEvolveSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_evo").toString

  /** Two single-file appends with disjoint key ranges. */
  private def seeded(root: String): CommitLog = {
    val log = new CommitLog(spark, root)
    def batch(lo: Long, hi: Long) =
      (lo to hi).toDF("k").withColumn("v", col("k") * 10L).coalesce(1)
    log.commit(batch(1, 100), replace = false)
    log.commit(batch(101, 200), replace = false)
    log
  }

  test("CoW merge(evolve): new column lands, old rows read NULL, untouched file carries") {
    val log = seeded(freshRoot())
    val before = log.files(2L)
    // batch touches only the FIRST file's range and adds column `tag`
    val batch = Seq((50L, 555L, "x"), (201L, 2010L, "y"))
      .toDF("k", "v", "tag").coalesce(1)
    log.merge(batch, "k", evolve = true)
    val after = log.files(3L)
    assert(after.contains(before(1)),
      "file untouched by keys must carry by name through the evolution")
    assert(!after.contains(before(0)), "touched file must be rewritten")
    val out = log.read()
    assert(out.columns.toSet == Set("k", "v", "tag"))
    val rows = out.select("k", "v", "tag").as[(Long, Long, Option[String])]
      .collect().map { case (k, v, t) => k -> ((v, t)) }.toMap
    assert(rows(50L) == ((555L, Some("x"))), "matched key must update")
    assert(rows(201L) == ((2010L, Some("y"))), "new key must insert")
    assert(rows(51L) == ((510L, None)), "old row must read new column as NULL")
    assert(rows(150L) == ((1500L, None)), "carried-file row must read NULL too")
    assert(out.count() == 201)
  }

  test("MoR mergeMoR(evolve): zero rewrites, NULL-padded reads, fold keeps values") {
    val log = seeded(freshRoot())
    val before = log.files(2L)
    val batch = Seq((150L, 666L, "z")).toDF("k", "v", "tag").coalesce(1)
    log.mergeMoR(batch, "k", evolve = true)
    // both data files carry by name — merge vectors rewrite nothing
    assert(log.files(3L).toSet.intersect(before.toSet) == before.toSet)
    def snap() = log.read().select("k", "v", "tag")
      .as[(Long, Long, Option[String])].collect().toSet
    val mor = snap()
    assert(mor.contains((150L, 666L, Some("z"))))
    assert(mor.contains((1L, 10L, None)))
    assert(mor.size == 200)
    // folding the tombstones must not change the visible rows
    log.rewriteDeletes()
    assert(snap() == mor, "rewriteDeletes changed visible rows under evolution")
  }

  test("contract: evolve=false rejects new columns; evolve=true rejects missing ones") {
    val log = seeded(freshRoot())
    val extra = Seq((1L, 1L, "x")).toDF("k", "v", "tag")
    val e1 = intercept[IllegalArgumentException](log.merge(extra, "k"))
    assert(e1.getMessage.contains("schema"), e1.getMessage)
    val missing = Seq((1L, "x")).toDF("k", "tag")
    val e2 = intercept[IllegalArgumentException](
      log.merge(missing, "k", evolve = true))
    assert(e2.getMessage.contains("missing"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      log.mergeMoR(missing, "k", evolve = true))
    assert(e3.getMessage.contains("missing"), e3.getMessage)
  }

  test("#schema: header rides the temporal plane — RESTORE reverts the evolution") {
    val log = seeded(freshRoot())
    assert(log.evolvedSchema.isEmpty, "un-evolved table carries no header")
    log.mergeMoR(Seq((50L, 555L, "x")).toDF("k", "v", "tag"), "k", evolve = true)
    assert(log.evolvedSchema.exists(_.fieldNames.toSeq == Seq("k", "v", "tag")))
    // compaction folds the MoR debt but must carry the schema of record
    log.compact()
    assert(log.evolvedSchema.exists(_.fieldNames.contains("tag")),
      "#schema: header lost through compact")
    // RESTORE to the pre-evolution version REVERTS the schema with the
    // data (the restored manifest carries no header)
    log.restore(2L)
    assert(log.evolvedSchema.isEmpty, "restore must revert the evolution")
    assert(log.read().columns.toSeq == Seq("k", "v"))
  }

  test("type drift: lossless upcast aligns silently; lossy drift fails loudly") {
    // narrower batch into a LONG table: int values upcast to the
    // table's type — the pool never mixes int32 and int64 footers
    val log = seeded(freshRoot())
    val narrow = Seq((50, 5555), (201, 2010)).toDF("k", "v").coalesce(1)
    log.merge(narrow, "k")
    assert(log.read().schema("v").dataType ==
      org.apache.spark.sql.types.LongType,
      "merged pool must keep the table's LONG type")
    assert(log.read().filter(col("k") === 50L).select("v")
      .as[Long].head() == 5555L)

    // a WIDER batch type must not change the table type as a side
    // effect: DOUBLE into a LONG column bounces with the ALTER hint
    // on every tier (the mixed-footer pool it would create is
    // unreadable under mergeSchema)
    val wide = Seq((60L, 1.5)).toDF("k", "v").coalesce(1)
    val e1 = intercept[IllegalArgumentException] { log.merge(wide, "k") }
    assert(e1.getMessage.contains("ALTER TABLE"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] { log.mergeMoR(wide, "k") }
    assert(e2.getMessage.contains("ALTER TABLE"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      log.applyChangesMoR(Seq(60L).toDF("k"), wide, "k")
    }
    assert(e3.getMessage.contains("ALTER TABLE"), e3.getMessage)
  }

  test("partitioned table: evolution keeps the c=v layout") {
    val root = freshRoot()
    val log = new CommitLog(spark, root)
    val base = Seq((1L, "A", 10L), (2L, "B", 20L), (3L, "A", 30L))
      .toDF("k", "p", "v")
    log.commitPartitioned(base, Seq("p"), replace = true)
    val batch = Seq((2L, "B", 22L, "n"), (4L, "A", 40L, "m"))
      .toDF("k", "p", "v", "note")
    log.merge(batch, "k", evolve = true)
    val v = log.currentVersion.get
    assert(log.partitionColumns(v) == Seq("p"), "partition header must survive")
    assert(log.files(v).forall(_.contains("p=")),
      s"evolved files must stay under c=v subdirs: ${log.files(v)}")
    val rows = log.read().select("k", "v", "note")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(rows == Set((1L, 10L, None), (2L, 22L, Some("n")),
      (3L, 30L, None), (4L, 40L, Some("m"))))
  }

  test("replace of an evolved table: a shape-changing overwrite makes the " +
      "data the schema of record again (overwriteSchema posture)") {
    val log = seeded(freshRoot())
    log.merge(Seq((50L, 555L, "x")).toDF("k", "v", "tag"), "k", evolve = true)
    assert(log.evolvedSchema.exists(_.fieldNames.toSeq == Seq("k", "v", "tag")))

    // shape-PRESERVING replace (same name→type map): the header carries —
    // the replacement still speaks the evolved shape
    log.commit(Seq((1L, 11L, "a")).toDF("k", "v", "tag"), replace = true)
    assert(log.evolvedSchema.exists(_.fieldNames.toSeq == Seq("k", "v", "tag")),
      "shape-preserving replace must keep the evolved header")

    // shape-CHANGING replace: drops `tag`, adds `score` — the stale header
    // must NOT resurrect `tag` as a phantom NULL nor hide `score`
    log.commit(Seq((1L, 11L, 0.5)).toDF("k", "v", "score"), replace = true)
    assert(log.evolvedSchema.isEmpty,
      "shape-changing replace must drop the stale evolved header")
    assert(log.read().columns.toSeq == Seq("k", "v", "score"))

    // ...and the temporal plane still works: RESTORE to the evolved
    // version brings the header back with the data
    log.restore(3L)
    assert(log.evolvedSchema.exists(_.fieldNames.contains("tag")))
  }

  test("partitioned replace mirrors the flat overwriteSchema semantics") {
    val root = freshRoot()
    val log = new CommitLog(spark, root)
    val base = Seq((1L, "A", 10L), (2L, "B", 20L)).toDF("k", "p", "v")
    log.commitPartitioned(base, Seq("p"), replace = true)
    log.merge(Seq((2L, "B", 22L, "n")).toDF("k", "p", "v", "note"),
      "k", evolve = true)
    assert(log.evolvedSchema.exists(_.fieldNames.contains("note")))
    // shape-preserving partitioned replace: header carries
    log.commitPartitioned(
      Seq((3L, "A", 30L, "m")).toDF("k", "p", "v", "note"),
      Seq("p"), replace = true)
    assert(log.evolvedSchema.exists(_.fieldNames.contains("note")),
      "same-shape partitioned replace must keep the evolved header")
    // shape-changing partitioned replace: data becomes the truth
    log.commitPartitioned(
      Seq((4L, "B", 40L, 0.5)).toDF("k", "p", "v", "score"),
      Seq("p"), replace = true)
    assert(log.evolvedSchema.isEmpty,
      "shape-changing partitioned replace must drop the stale header")
    assert(log.read().columns.sorted.toSeq == Seq("k", "p", "score", "v"))
  }

  /** [[seeded]], then an evolving merge of one NEW key that adds column
    * `w`: the third file is the only one holding `w`, so a copy-on-write
    * rewrite of either seeded file touches only files that predate it.
    */
  private def evolvedPast(root: String): CommitLog = {
    val log = seeded(root)
    log.merge(Seq((201L, 2010L, "n")).toDF("k", "v", "w").coalesce(1), "k",
      evolve = true)
    assert(log.files(3L).length == 3)
    log
  }

  private def kvw(log: CommitLog): Map[Long, (Long, Option[String])] =
    log.read().select("k", "v", "w").as[(Long, Long, Option[String])]
      .collect().map { case (k, v, w) => k -> ((v, w)) }.toMap

  test("CoW rewrite after evolution: merge of an old key pads the new column") {
    val log = evolvedPast(freshRoot())
    log.merge(Seq((50L, 555L, "a")).toDF("k", "v", "w"), "k")
    val rows = kvw(log)
    assert(rows(50L) == ((555L, Some("a"))))
    assert(rows(51L) == ((510L, None)), "rewritten survivor must read w as NULL")
    assert(rows(201L) == ((2010L, Some("n"))))
    assert(rows.size == 201)
  }

  test("CoW rewrite after evolution: deleteKeys of an old key") {
    val log = evolvedPast(freshRoot())
    log.deleteKeys(Seq(50L).toDF("k"), "k")
    val rows = kvw(log)
    assert(!rows.contains(50L))
    assert(rows(51L) == ((510L, None)))
    assert(rows(201L) == ((2010L, Some("n"))))
    assert(rows.size == 200)
  }

  test("CoW rewrite after evolution: deleteWhere and rewriteWhere with extra rows") {
    val log = evolvedPast(freshRoot())
    log.deleteWhere(col("k") === 50L)
    log.rewriteWhere(col("k") === 150L,
      Some(Seq((150L, 1L, "r")).toDF("k", "v", "w")))
    val rows = kvw(log)
    assert(!rows.contains(50L))
    assert(rows(150L) == ((1L, Some("r"))))
    assert(rows(51L) == ((510L, None)))
    assert(rows(151L) == ((1510L, None)))
    assert(rows.size == 200)
  }

  test("CoW rewrite after evolution: updateWhere of an old key") {
    val log = evolvedPast(freshRoot())
    log.updateWhere(col("k") === 50L, Seq("v" -> lit(0L)))
    val rows = kvw(log)
    assert(rows(50L) == ((0L, None)))
    assert(rows(51L) == ((510L, None)))
    assert(rows.size == 201)
  }

  test("CoW rewrite after evolution: enforceTtl rewrites a straddler that predates the column") {
    val log = seeded(freshRoot())
    log.mergeMoR(Seq((201L, 2010L, "n")).toDF("k", "v", "w"), "k", evolve = true)
    // `k` read as epoch millis: cutoff 1050 - 1000 = 50 straddles file 1
    log.setTtl("k", 1000L)
    assert(log.enforceTtl(1050L) == ((0, 1)))
    val rows = kvw(log)
    assert(rows.keySet.min == 50L)
    assert(rows(50L) == ((500L, None)))
    assert(rows(201L) == ((2010L, Some("n"))))
    assert(rows.size == 152)
  }

  test("pruned reads after evolution keep the head's columns when every " +
      "candidate predates one") {
    val log = evolvedPast(freshRoot())
    val head = log.read().schema
    // each read's stats pruning leaves only the first seeded file
    val reads = Seq(
      "readEquals" -> log.readEquals(Seq("k" -> 50L)),
      "readBetween" -> log.readBetween("k", 40L, 60L),
      "readWhere(ranges)" -> log.readWhere(Seq(("k", 40L, 60L))),
      "readWhere(cond)" -> log.readWhere(col("k") >= 40L && col("k") <= 60L))
    val narrow = reads.collect { case (name, df) if df.schema != head =>
      s"$name: ${df.schema.simpleString}" }
    assert(narrow.isEmpty, s"head ${head.simpleString}; ${narrow.mkString("; ")}")
    reads.foreach { case (name, df) =>
      val rows = df.select("k", "v", "w").as[(Long, Long, Option[String])].collect()
      assert(rows.exists(_ == ((50L, 500L, None))), s"$name: ${rows.toSeq}")
    }
    assert(log.readEquals(Seq("k" -> 201L)).select("w").as[String].collect().toSeq == Seq("n"))
  }

  test("transform replace: the hidden _p_ layout columns never count as drift") {
    val root = freshRoot()
    val log = new CommitLog(spark, root)
    val base = (1L to 50L).map(k => (k, k * 10L)).toDF("k", "v")
    log.commitTransformed(base, Seq("bucket(4, k)"), replace = true)
    log.merge(Seq((7L, 77L, "x")).toDF("k", "v", "tag"), "k", evolve = true)
    // the header records the USER schema only: a hidden `_p_*` column in
    // it would leak through GraftTable.schema to the SQL surface and the
    // change feed's pinned schema
    assert(log.evolvedSchema.exists(_.fieldNames.toSeq == Seq("k", "v", "tag")),
      s"header must be user-level, got ${log.evolvedSchema.map(_.fieldNames.toSeq)}")
    // a same-user-shape transform overwrite stages the derived `_p_*`
    // column alongside the data — it must NOT read as schema drift
    log.commitTransformed(
      Seq((9L, 99L, "y")).toDF("k", "v", "tag"),
      Seq("bucket(4, k)"), replace = true)
    assert(log.evolvedSchema.exists(_.fieldNames.contains("tag")),
      "hidden layout columns must not drop the evolved header")
    // and a genuinely different user shape still drops it
    log.commitTransformed(
      Seq((10L, 0.5)).toDF("k", "score"),
      Seq("bucket(4, k)"), replace = true)
    assert(log.evolvedSchema.isEmpty,
      "real drift through the transform path must drop the header")
  }
}
