package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CommitLog

/** Hive-partitioned commit-log tables: `#partition:` spec in the
  * manifest, `c=v` directory layout on write, EXACT partition pruning in
  * readWhere (file-count assertions, like ZOrderSpec), the MoR delete
  * tier with a partition-aware fold, partition-aware keyed CoW
  * (merge/deleteKeys restage under the subdirs, untouched files carry
  * by name), and loud refusals from the predicate CoW paths that would
  * flatten the layout.
  */
class PartitionedCommitSpec extends AnyFunSuite {

  test("optimized write collapses per-partition file counts; default keeps task layout") {
    import SparkTestSession._
    import spark.implicits._
    val df = spark.range(0, 400)
      .select(($"id" % 4).cast("string").as("c"), $"id".as("k"))
      .repartition(8)   // 8 writing tasks, each holding all 4 values
    def fileCount(root: String): Int = {
      val log = new graft.catalog.CommitLog(spark, root)
      log.commitPartitioned(df, Seq("c"), replace = true)
      log.files(log.currentVersion.get).length
    }
    val defaultCount = fileCount(
      java.nio.file.Files.createTempDirectory("graft_ow_off").toString)
    assert(defaultCount > 4, s"default task layout writes per-task files: $defaultCount")
    spark.conf.set("spark.graft.optimizedWrite.enabled", "true")
    try {
      val optimized = fileCount(
        java.nio.file.Files.createTempDirectory("graft_ow_on").toString)
      assert(optimized == 4, s"optimized write must land one file per value: $optimized")
    } finally spark.conf.unset("spark.graft.optimizedWrite.enabled")
  }
  import SparkTestSession._
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def sample(from: Int, to: Int): DataFrame =
    (from to to).map(i => (i.toLong, s"v$i", s"cat${i % 4}")).toDF("k", "v", "cat")

  test("partitioned commit: layout, spec header, exact pruning by file count") {
    val root = tmp("graft_part")
    val log = new CommitLog(spark, root)
    log.commitPartitioned(sample(1, 400), Seq("cat"), replace = true)
    val v1 = log.currentVersion.get
    assert(log.partitionColumns(v1) == Seq("cat"))
    // names carry the hive subdir
    assert(log.files(v1).forall(_.startsWith("cat=")), log.files(v1).take(3))

    // partition column survives the read (rehydrated from the layout)
    val all = log.read()
    assert(all.columns.contains("cat"))
    assert(all.count() == 400)
    assert(all.filter(col("cat") === "cat1").count() == 100)

    // the pruned read opens ONLY the matching partition's files
    val catFiles = log.files(v1).groupBy(_.split('/').head)
    val pruned = log.readBetween("cat", "cat2", "cat2")
    assert(pruned.inputFiles.length == catFiles("cat=cat2").length,
      s"expected ${catFiles("cat=cat2").length} files, opened ${pruned.inputFiles.length}")
    assert(pruned.count() == 100)

    // conjunctive with a footer-stats column still multiplies selectivity
    val both = log.readWhere(Seq(("cat", "cat2", "cat2"), ("k", 1, 50)))
    assert(both.inputFiles.length <= catFiles("cat=cat2").length)
    assert(both.count() == sample(1, 400).filter($"cat" === "cat2" && $"k".between(1, 50)).count())
  }

  test("append requires the same spec; plain commit append refuses; replace may change") {
    val root = tmp("graft_part_app")
    val log = new CommitLog(spark, root)
    log.commitPartitioned(sample(1, 100), Seq("cat"), replace = true)
    log.commitPartitioned(sample(101, 200), Seq("cat"), replace = false)
    assert(log.read().count() == 200)

    val wrongSpec = intercept[IllegalArgumentException] {
      log.commitPartitioned(sample(201, 300), Seq("v"), replace = false)
    }
    assert(wrongSpec.getMessage.contains("mix layouts"), wrongSpec.getMessage)

    val flatAppend = intercept[IllegalArgumentException] {
      log.commit(sample(201, 300), replace = false)
    }
    assert(flatAppend.getMessage.contains("hive-partitioned"), flatAppend.getMessage)
    // an empty column list is the flat commit, and refuses the same way
    val noColsAppend = intercept[IllegalArgumentException] {
      log.commitPartitioned(sample(201, 300), Nil, replace = false)
    }
    assert(noColsAppend.getMessage.contains("hive-partitioned"), noColsAppend.getMessage)

    // replace back to flat is legal and drops the spec
    log.commit(sample(1, 10).drop("cat"), replace = true)
    assert(log.partitionColumns(log.currentVersion.get).isEmpty)

    // ...and the reverse mix also refuses: a partitioned APPEND over a
    // non-empty flat head would nest hive subdirs beside flat files
    val mixBack = intercept[IllegalArgumentException] {
      log.commitPartitioned(sample(11, 20), Seq("cat"), replace = false)
    }
    assert(mixBack.getMessage.contains("mix layouts"), mixBack.getMessage)

    // on the flat head an empty column list appends as commit does
    val flatV = log.commitPartitioned(sample(11, 20).drop("cat"), Nil, replace = false)
    assert(log.partitionColumns(flatV).isEmpty && log.operation(flatV) == "append")
    assert(log.files(flatV).forall(!_.contains("/")), log.files(flatV))
    assert(log.read().count() == 20)
  }

  test("MoR delete + partition-aware rewriteDeletes keep the layout") {
    val root = tmp("graft_part_mor")
    val log = new CommitLog(spark, root)
    log.commitPartitioned(sample(1, 200), Seq("cat"), replace = true)
    log.deleteWhereMoR(col("k") <= 20L)
    assert(log.read().count() == 180)
    // tombstones can target partition columns too (they are real columns)
    log.deleteWhereMoR(col("cat") === "cat3" && col("k") > 190L)
    val visible = log.read()
    assert(visible.count() == 180 - sample(1, 200)
      .filter($"cat" === "cat3" && $"k" > 190 && $"k" > 20).count())

    val (dvFolded, rewritten) = log.rewriteDeletes()
    assert(dvFolded > 0 && rewritten > 0)
    val vAfter = log.currentVersion.get
    assert(log.dvFiles(vAfter).isEmpty)
    assert(log.partitionColumns(vAfter) == Seq("cat"), "fold must keep the spec")
    assert(log.files(vAfter).forall(_.startsWith("cat=")), "fold must keep the layout")
    assert(log.read().count() == visible.count())
    // pruning still exact after the fold
    val catFiles = log.files(vAfter).groupBy(_.split('/').head)
    assert(log.readBetween("cat", "cat0", "cat0").inputFiles.length ==
      catFiles("cat=cat0").length)
  }

  test("predicate CoW keeps the layout on partitioned tables; compact re-lays out per spec") {
    val root = tmp("graft_part_guard")
    val log = new CommitLog(spark, root)
    log.commitPartitioned(sample(1, 100), Seq("cat"), replace = true)
    val beforeDel = log.files(log.currentVersion.get)
    // k=1 lives in cat1 — only that partition's containing file rewrites
    log.deleteWhere(col("k") === 1L)
    val afterDel = log.files(log.currentVersion.get)
    assert(log.read().count() == 99)
    assert(log.read().filter($"k" === 1L).isEmpty)
    assert(afterDel.forall(_.startsWith("cat=")))
    assert((beforeDel.toSet -- afterDel).forall(_.startsWith("cat=cat1")),
      "predicate CoW may only rewrite the partition containing the match")
    assert(log.partitionColumns(log.currentVersion.get) == Seq("cat"))
    // clustering a PARTITION column is refused (constant per dir);
    // clustering a data column is partition-local and allowed (below)
    assert(intercept[IllegalArgumentException] {
      log.optimizeBy("cat")
    }.getMessage.contains("partition column"))

    val before = log.currentFileCount
    val (was, now) = log.compact()
    assert(was == before)
    assert(log.partitionColumns(log.currentVersion.get) == Seq("cat"))
    assert(log.read().count() == 99)
    assert(now <= was)
  }

  test("partition-aware merge: only containing files rewrite, layout and pruning survive") {
    val root = tmp("graft_part_merge")
    val log = new CommitLog(spark, root)
    log.commitPartitioned(sample(1, 400), Seq("cat"), replace = true)
    val before = log.files(log.currentVersion.get)

    // k=1 lives in cat1; k=401 is a brand-new key that also lands in cat1
    val ups = Seq((1L, "V1", "cat1"), (401L, "V401", "cat1")).toDF("k", "v", "cat")
    log.merge(ups, "k")
    val v2 = log.currentVersion.get
    assert(log.partitionColumns(v2) == Seq("cat"))
    val after = log.files(v2)
    assert(after.forall(_.startsWith("cat=")), after.take(3))
    // every file not holding k=1 is carried by NAME — the O(touched) claim
    val carried = before.filter(after.contains)
    assert(carried.nonEmpty && (before.toSet -- carried).forall(_.startsWith("cat=cat1")),
      s"only cat1 files may rewrite; rewrote ${(before.toSet -- carried).take(3)}")

    val r = log.read()
    assert(r.count() == 401)
    assert(r.filter($"k" === 1L).select("v").as[String].head() == "V1")
    assert(r.filter($"k" === 401L).select("cat").as[String].head() == "cat1")

    // pruning stays exact after the partitioned rewrite
    val catFiles = after.groupBy(_.split('/').head)
    assert(log.readBetween("cat", "cat2", "cat2").inputFiles.length ==
      catFiles("cat=cat2").length)
  }

  test("partition-aware deleteKeys; keying on the partition column prunes to its dirs") {
    val root = tmp("graft_part_del")
    val log = new CommitLog(spark, root)
    log.commitPartitioned(sample(1, 200), Seq("cat"), replace = true)
    val before = log.files(log.currentVersion.get)

    // data-column key: only files containing the keys rewrite
    log.deleteKeys(Seq(2L, 6L).toDF("k"), "k")
    val afterK = log.files(log.currentVersion.get)
    assert(log.read().count() == 198)
    assert(log.read().filter($"k".isin(2L, 6L)).isEmpty)
    assert((before.toSet -- afterK).forall(_.startsWith("cat=cat2")),
      "k=2,6 live in cat2; no other partition's file may rewrite")

    // partition-column key: value stats prune to exactly that partition,
    // whose survivors are empty — the whole directory leaves the manifest
    log.deleteKeys(Seq("cat3").toDF("cat"), "cat")
    val afterP = log.files(log.currentVersion.get)
    assert(afterP.forall(!_.startsWith("cat=cat3")))
    assert(afterK.filterNot(_.startsWith("cat=cat3")).forall(afterP.contains),
      "every non-cat3 file must carry by name")
    assert(log.read().count() == 198 - 50)
    assert(log.partitionColumns(log.currentVersion.get) == Seq("cat"))
  }

  test("vacuum walks partition subdirs: replaced nested files are collected") {
    val root = tmp("graft_part_vac")
    val log = new CommitLog(spark, root)
    log.commitPartitioned(sample(1, 100), Seq("cat"), replace = true)
    val oldFiles = log.files(log.currentVersion.get)
    log.commitPartitioned(sample(101, 200), Seq("cat"), replace = true)
    val (manifests, dead) = log.vacuum(keepVersions = 1, minFileAgeMs = 0, minVersionAgeMs = 0)
    assert(manifests == 1)
    assert(dead == oldFiles.length, s"expected ${oldFiles.length} dead, got $dead")
    assert(log.read().count() == 100)
  }

  test("commitPartitioned racing a concurrent writer loses, retries, both land") {
    val root = tmp("graft_part_race")
    val log = new CommitLog(spark, root)
    log.commitPartitioned(sample(1, 50), Seq("cat"), replace = true)
    // a competing manifest for v2 appears between pool and publish
    val racing = new CommitLog(spark, root) {
      override protected def beforePublish(attempt: Int, v: Long): Unit =
        if (attempt == 0 && v == 2L) {
          val hfs = graft.catalog.HadoopFs.fs(spark, root)
          val src = new org.apache.hadoop.fs.Path(root, "_commits/00000001.manifest")
          val dst = new org.apache.hadoop.fs.Path(root, f"_commits/$v%08d.manifest")
          org.apache.hadoop.fs.FileUtil.copy(hfs, src, hfs, dst, false,
            spark.sparkContext.hadoopConfiguration): Unit
        }
    }
    val v = racing.commitPartitioned(sample(51, 100), Seq("cat"), replace = false)
    assert(v == 3L)   // lost v2, landed v3, same pooled files
    assert(log.read().count() == 100)
    assert(log.partitionColumns(3L) == Seq("cat"))
    // exactly one #partition header survives the carried lines
    assert(log.history().head.partitionColumns == Seq("cat"))
  }

  test("optimize and z-order on a partitioned table keep the c=v layout and pruning") {
    val root = tmp("graft_part_opt")
    val log = new CommitLog(spark, root)
    val df = (1 to 400).map(i =>
      (i.toLong, (i * 37 % 400).toLong, s"cat${i % 4}")).toDF("k", "x", "cat")
    log.commitPartitioned(df, Seq("cat"), replace = true)

    // 1-D optimize on a data column: spec + layout survive, files within
    // each partition now cover disjoint k-ranges
    log.optimizeBy("k", targetFileBytes = 4L * 1024)
    val v1 = log.currentVersion.get
    assert(log.partitionColumns(v1) == Seq("cat"))
    assert(log.files(v1).forall(_.startsWith("cat=")), "optimize must keep the hive layout")
    assert(log.read().count() == 400)
    val catFiles = log.files(v1).groupBy(_.split('/').head)
    // partition pruning exact after the rewrite
    assert(log.readBetween("cat", "cat1", "cat1").inputFiles.length ==
      catFiles("cat=cat1").length)
    // and k-clustering prunes WITHIN the partition when it has >1 file
    val pruned = log.readWhere(Seq(("cat", "cat1", "cat1"), ("k", 1, 30)))
    if (catFiles("cat=cat1").length > 1)
      assert(pruned.inputFiles.length < catFiles("cat=cat1").length,
        s"${pruned.inputFiles.length} of ${catFiles("cat=cat1").length} files opened")
    assert(pruned.count() ==
      df.filter($"cat" === "cat1" && $"k".between(1, 30)).count())

    // multi-dim z-order: same preservation, both dims carry narrow bounds
    log.optimizeZOrder(Seq("k", "x"), targetFileBytes = 4L * 1024)
    val v2 = log.currentVersion.get
    assert(log.partitionColumns(v2) == Seq("cat"))
    assert(log.files(v2).forall(_.startsWith("cat=")), "z-order must keep the hive layout")
    val catFiles2 = log.files(v2).groupBy(_.split('/').head)
    assert(log.readBetween("cat", "cat2", "cat2").inputFiles.length ==
      catFiles2("cat=cat2").length)
    val both = log.readWhere(Seq(("cat", "cat2", "cat2"), ("k", 1, 60), ("x", 1, 60)))
    assert(both.count() ==
      df.filter($"cat" === "cat2" && $"k".between(1, 60) && $"x".between(1, 60)).count())
    // z-ordering a partition column refuses by name
    assert(intercept[IllegalArgumentException] {
      log.optimizeZOrder(Seq("k", "cat"))
    }.getMessage.contains("partition"))
  }

  test("string partition values prune lexically, never numerically") {
    // a STRING column holding digit-only values must keep string-typed
    // bounds: "2" IS lexically between "10" and "30", and numeric-typed
    // pruning would silently skip its file (r8 advice). Mixed values
    // ("1" next to "other") must not crash the range compare either.
    val root = tmp("graft_part_strtype")
    val log = new CommitLog(spark, root)
    val df = Seq((1L, "2"), (2L, "10"), (3L, "30"), (4L, "other"))
      .toDF("k", "s")
    log.commitPartitioned(df, Seq("s"), replace = true)
    val expected = df.filter($"s".between("10", "30")).count()  // lexical: 3
    val got = log.readBetween("s", "10", "30")
    assert(got.count() == expected,
      s"pruning disagrees with the lexical row filter: ${got.collect().toSeq}")
    assert(got.filter($"s" === "2").count() == 1, "\"2\" must survive the range read")
    // numeric partition columns still get numeric bounds
    val root2 = tmp("graft_part_numtype")
    val log2 = new CommitLog(spark, root2)
    log2.commitPartitioned(df.withColumn("n", $"k" * 10), Seq("n"), replace = true)
    assert(log2.readBetween("n", 15, 35).count() ==
      df.filter(($"k" * 10).between(15, 35)).count())
  }

  test("commitPartitioned append refuses when a racer changes the spec mid-commit") {
    val root = tmp("graft_part_respec")
    val log = new CommitLog(spark, root)
    log.commitPartitioned(sample(1, 50), Seq("cat"), replace = true)
    // the racer publishes v2 with a DIFFERENT #partition header between
    // our pool and publish; the retry must re-validate against the new
    // head instead of publishing a cat-header manifest over v-layout lines
    val racing = new CommitLog(spark, root) {
      override protected def beforePublish(attempt: Int, v: Long): Unit =
        if (attempt == 0 && v == 2L) {
          val hfs = graft.catalog.HadoopFs.fs(spark, root)
          val out = hfs.create(
            new org.apache.hadoop.fs.Path(root, f"_commits/$v%08d.manifest"), false)
          out.write("#partition:[\"v\"]\n".getBytes("UTF-8")); out.close()
        }
    }
    val e = intercept[IllegalArgumentException] {
      racing.commitPartitioned(sample(51, 100), Seq("cat"), replace = false)
    }
    assert(e.getMessage.contains("mix layouts"), e.getMessage)
  }

  test("vacuum ages out _tmp staging orphans but spares young entries") {
    val root = tmp("graft_part_tmpvac")
    val log = new CommitLog(spark, root)
    log.commitPartitioned(sample(1, 100), Seq("cat"), replace = true)
    val hfs = graft.catalog.HadoopFs.fs(spark, root)
    val orphanDir = new org.apache.hadoop.fs.Path(root, "_tmp/dead-stage")
    hfs.mkdirs(orphanDir)
    val f = hfs.create(new org.apache.hadoop.fs.Path(orphanDir, "part-0.parquet"), false)
    f.write(Array[Byte](1, 2, 3)); f.close()
    // young guard: a generous age threshold keeps the (fresh) orphan
    val (_, spared) = log.vacuum(keepVersions = 1, minFileAgeMs = 60 * 60 * 1000)
    assert(hfs.exists(orphanDir), "young staging entry must survive the in-flight guard")
    assert(spared == 0)
    // past the guard the orphan is never referenced by any manifest: collect it
    val (_, dead) = log.vacuum(keepVersions = 1, minFileAgeMs = 0, minVersionAgeMs = 0)
    assert(dead >= 1, s"expected the _tmp orphan collected, got $dead")
    assert(!hfs.exists(orphanDir))
    assert(log.read().count() == 100, "table data untouched by _tmp cleanup")
  }

  test("collectNames cap: many touched files pass; a tiny cap fails loudly") {
    val root = tmp("graft_part_cap")
    val log = new CommitLog(spark, root)
    // 64 range-partitioned files (file i holds ids [10i, 10i+10)), every
    // one tombstoned via id%10==0 → 64 distinct names through the
    // bounded row-stream fetch (no single giant array cell)
    log.commit(spark.range(0, 640).repartitionByRange(64, col("id")).toDF(),
      replace = true)
    assert(log.currentFileCount == 64)
    log.deleteWhereMoR(col("id") % 10 === 0)
    val (folded, rewritten) = log.rewriteDeletes()
    assert(folded > 0 && rewritten == 64)
    assert(log.read().count() == 640 - 64)

    val capped = new CommitLog(spark, root) {
      override protected def nameCollectCap: Int = 3
    }
    capped.deleteWhereMoR(col("id") % 7 === 1)
    val e = intercept[IllegalStateException] { capped.rewriteDeletes() }
    assert(e.getMessage.contains("distinct file names"), e.getMessage)
    // the uncapped log still folds the same debt fine
    assert(log.rewriteDeletes()._1 > 0)
  }
}
