package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{AssetCatalog, AuditLog, SourceSystem}

/** CRUD semantics of the parquet-backed registry (reference R1–R6) and
  * the append-only audit log (R18) with its guarded status update (R2).
  */
class CatalogSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft_catalog").toString

  /** A commit-log handle counting its metadata accesses: `open` = a
    * manifest or head-hint read, `list` = a `_commits` listing.
    */
  private class Counting(root: String) extends graft.catalog.CommitLog(spark, root) {
    val opens = new java.util.concurrent.atomic.AtomicInteger
    val lists = new java.util.concurrent.atomic.AtomicInteger
    override protected def onMetaAccess(kind: String): Unit =
      (if (kind == "open") opens else lists).incrementAndGet(): Unit
  }

  private def seed(cat: AssetCatalog): Unit =
    cat.create("source_system", "src_sys_id", Seq(
      SourceSystem(101L, "crm", "us-east-2", ts("2026-01-01 00:00:00"), "active"),
      SourceSystem(102L, "erp", "us-east-2", ts("2026-01-02 00:00:00"), "active")).toDS())

  test("create + read: point lookup returns the created row") {
    val cat = new AssetCatalog(spark, freshRoot())
    seed(cat)
    val row = cat.read("source_system", "src_sys_id", 101L).collect()
    assert(row.length == 1 && row.head.getAs[String]("name") == "crm")
  }

  test("create rejects duplicate keys (fail-fast validation)") {
    val cat = new AssetCatalog(spark, freshRoot())
    seed(cat)
    intercept[IllegalArgumentException] {
      cat.create("source_system", "src_sys_id",
        Seq(SourceSystem(101L, "dup", "r", ts("2026-01-01 00:00:00"), "x")).toDS())
    }
  }

  test("update is guarded: matching key changes, others untouched") {
    val cat = new AssetCatalog(spark, freshRoot())
    seed(cat)
    cat.update("source_system", "src_sys_id",
      Seq((101L, "inactive")).toDF("src_sys_id", "status"))
    val m = cat.readTable("source_system")
      .select("src_sys_id", "status").as[(Long, String)].collect().toMap
    assert(m == Map(101L -> "inactive", 102L -> "active"))
  }

  test("delete removes exactly the given keys") {
    val cat = new AssetCatalog(spark, freshRoot())
    seed(cat)
    cat.deleteKeys("source_system", "src_sys_id", Seq(101L))
    assert(cat.readTable("source_system").select("src_sys_id")
      .as[Long].collect().toSeq == Seq(102L))
  }

  test("landing bucket + init zone path follow the reference contract") {
    val cat = new AssetCatalog(spark, freshRoot())
    assert(cat.landingBucket("dl-fmwrk", 101, "us-east-2") == "dl-fmwrk-101-us-east-2")
    assert(cat.initZonePath("b", "asset1", "batch9") == "b/asset1/batch9/init")
  }

  test("data-asset and target-system registries share the CRUD surface") {
    import graft.catalog.{DataAsset, TargetSystem}
    val cat = new AssetCatalog(spark, freshRoot())
    cat.create("data_asset", "asset_id", Seq(
      DataAsset(7L, 101L, "clickstream", "init", ts("2026-02-01 00:00:00"), "active")).toDS())
    cat.create("target_system", "tgt_sys_id", Seq(
      TargetSystem(9L, "warehouse", "us-east-1", ts("2026-02-01 00:00:00"), "active")).toDS())
    assert(cat.read("data_asset", "asset_id", 7L).count() == 1)
    assert(cat.read("target_system", "tgt_sys_id", 9L).count() == 1)
    cat.update("data_asset", "asset_id", Seq((7L, "archived")).toDF("asset_id", "status"))
    assert(cat.readTable("data_asset").select("status").as[String].collect().toSeq
      == Seq("archived"))
  }

  test("update rejects duplicate keys in the updates batch") {
    val cat = new AssetCatalog(spark, freshRoot())
    seed(cat)
    intercept[IllegalArgumentException] {
      cat.update("source_system", "src_sys_id",
        Seq((101L, "a"), (101L, "b")).toDF("src_sys_id", "status"))
    }
  }

  test("replicate mirrors every registry table to the secondary root with parity") {
    val cat = new AssetCatalog(spark, freshRoot())
    seed(cat)
    import graft.catalog.DataAsset
    cat.create("data_asset", "asset_id", Seq(
      DataAsset(7L, 101L, "clickstream", "init", ts("2026-02-01 00:00:00"), "active")).toDS())
    val secondary = freshRoot()
    val replicated = cat.replicate(secondary)
    assert(replicated == Seq("data_asset", "source_system"))
    replicated.foreach(t => assert(cat.replicaParity(secondary, t), s"parity: $t"))
    // parity detects divergence: mutate the primary, replica now stale
    cat.deleteKeys("source_system", "src_sys_id", Seq(101L))
    assert(!cat.replicaParity(secondary, "source_system"))
    // re-replicate restores parity (idempotent staged rewrite over the replica)
    cat.replicate(secondary)
    assert(cat.replicaParity(secondary, "source_system"))
  }

  test("replicateFrom ships only the files the replica lacks; in-sync is a no-op") {
    import graft.catalog.CommitLog
    val primary = new CommitLog(spark, freshRoot() + "/p")
    for (lo <- Seq(0L, 100L, 200L))
      primary.commit(spark.range(lo, lo + 100).toDF("k").coalesce(1), replace = false)
    val replicaRoot = freshRoot() + "/r"
    val replica = new CommitLog(spark, replicaRoot)
    val rfs = graft.catalog.HadoopFs.fs(spark, replicaRoot)
    def poolCount: Int = {
      val d = new org.apache.hadoop.fs.Path(replicaRoot, "data")
      if (!rfs.exists(d)) 0 else rfs.listStatus(d).count(_.isFile)
    }
    // bootstrap: all 3 files copy; replica reads to parity
    assert(replica.replicateFrom(primary).contains(1L))
    assert(poolCount == 3)
    assert(replica.read().as[Long].collect().sorted.toSeq == (0L until 300L))
    // in sync: cursor short-circuits, nothing copies, nothing publishes
    assert(replica.replicateFrom(primary).isEmpty)
    assert(replica.currentVersion.contains(1L) && poolCount == 3)
    // primary appends one file: the sync copies EXACTLY one more
    primary.commit(spark.range(300L, 310L).toDF("k").coalesce(1), replace = false)
    assert(replica.replicateFrom(primary).contains(2L))
    assert(poolCount == 4, s"incremental sync must copy only the new file, pool=$poolCount")
    // CoW delete rewrites one file: only the rewritten survivor copies
    primary.deleteWhere(col("k") === 5L)
    val before = poolCount
    assert(replica.replicateFrom(primary).contains(3L))
    assert(poolCount == before + 1,
      s"CoW sync must copy only the rewritten file, pool=$poolCount vs $before")
    assert(replica.read().as[Long].collect().sorted.toSeq ==
      ((0L until 310L).filterNot(_ == 5L)))
    // MoR tombstones replicate as tombstones (no data rewrite either side)
    primary.deleteWhereMoR(col("k") === 7L)
    assert(replica.replicateFrom(primary).contains(4L))
    assert(replica.dvFiles(4L).nonEmpty, "tombstone file must ride the manifest")
    assert(replica.read().as[Long].collect().sorted.toSeq ==
      ((0L until 310L).filterNot(k => k == 5L || k == 7L)))
    // a schema-evolving merge replicates with its #schema: header — the
    // manifest copies verbatim, so the replica's schema of record
    // widens with the data
    primary.mergeMoR(Seq((7000L, 1.5)).toDF("k", "w"), "k", evolve = true)
    assert(replica.replicateFrom(primary).contains(5L))
    assert(replica.evolvedSchema.exists(_.fieldNames.toSeq == Seq("k", "w")),
      "replicated manifest must carry the evolved schema of record")
  }

  test("compact narrows many small files to few, preserving every row") {
    val cat = new AssetCatalog(spark, freshRoot())
    // 40 tiny single-row appends → 40+ small parquet files
    for (i <- 0L to 39L)
      cat.create("source_system", "src_sys_id", Seq(
        SourceSystem(i, s"s$i", "r", ts("2026-01-01 00:00:00"), "active")).toDS())
    val beforeRows = cat.readTable("source_system").orderBy("src_sys_id").collect()
    val (nBefore, nAfter) = cat.compact("source_system")
    assert(nBefore >= 40, s"expected many small files, got $nBefore")
    assert(nAfter == 1, s"40 tiny rows should compact to one file, got $nAfter")
    val afterRows = cat.readTable("source_system").orderBy("src_sys_id").collect()
    assert(afterRows.toSeq == beforeRows.toSeq)
  }

  test("commit log: append and replace commits version snapshots") {
    val log = new graft.catalog.CommitLog(spark, freshRoot() + "/t")
    val v1 = log.commit(Seq(1L, 2L).toDF("k"), replace = false)
    val v2 = log.commit(Seq(3L).toDF("k"), replace = false)
    assert((v1, v2) == (1L, 2L))
    assert(log.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(log.readVersion(v1).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val v3 = log.commit(Seq(9L).toDF("k"), replace = true)
    assert(log.read().as[Long].collect().toSeq == Seq(9L))
    assert(log.readVersion(v2).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(v3 == 3L)
  }

  test("commit log: restore rolls the head back as a new commit, history intact") {
    val log = new graft.catalog.CommitLog(spark, freshRoot() + "/t")
    val v1 = log.commit(Seq(1L, 2L).toDF("k"), replace = false)
    log.commit(Seq(99L).toDF("k"), replace = true,
      txn = Some("batch-7"))                       // the "bad deploy"
    val vr = log.restore(v1)
    assert(vr == 3L)
    // head content equals v1's; the bad version is still time-travelable
    assert(log.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(log.readVersion(2L).as[Long].collect().toSeq == Seq(99L))
    // txn memory survives the rollback: the redelivered batch stays a no-op
    assert(log.txns(vr).contains("batch-7"))
    assert(log.commit(Seq(99L).toDF("k"), replace = false,
      txn = Some("batch-7")) == vr)
    // vacuum keeps the restored head readable: its files are re-referenced
    // by the new manifest even though their ORIGINAL version is dropped
    log.vacuum(keepVersions = 1, minFileAgeMs = 0L, minVersionAgeMs = 0)
    assert(log.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    intercept[Exception] { log.readVersion(v1).collect() }: Unit
  }

  test("commit log: reader mid-compact keeps its consistent snapshot") {
    val log = new graft.catalog.CommitLog(spark, freshRoot() + "/t")
    // many tiny files: one commit per row
    for (i <- 1L to 12L) log.commit(Seq(i).toDF("k"), replace = false)
    assert(log.currentFileCount >= 12)
    // a reader resolves its snapshot BEFORE the compaction lands
    val reader = log.read()
    val (before, after) = log.compact()
    assert(before >= 12 && after == 1)
    // old snapshot still reads all rows — the files it resolved are
    // immutable pool members, not a vanished directory
    assert(reader.as[Long].collect().sorted.toSeq == (1L to 12L))
    // vacuum with the default retention must NOT touch the young
    // unreferenced files (they could belong to an in-flight commit)
    val (_, keptYoung) = log.vacuum(keepVersions = 1, minVersionAgeMs = 0)
    assert(keptYoung == 0)
    assert(reader.as[Long].collect().sorted.toSeq == (1L to 12L))
    // aged-out vacuum collects them; the head snapshot is unaffected
    val (_, collected) = log.vacuum(keepVersions = 1, minFileAgeMs = 0L, minVersionAgeMs = 0)
    assert(collected >= 12)
    assert(log.read().as[Long].collect().sorted.toSeq == (1L to 12L))
  }

  test("commit log: compact is incremental — right-sized files carry by name, reruns no-op") {
    val root = freshRoot() + "/t"
    val log = new graft.catalog.CommitLog(spark, root)
    log.commit((1L to 2000L).toDF("k").coalesce(1), replace = true)
    val bigName = log.files(log.currentVersion.get).head
    for (i <- 2001L to 2005L)
      log.commit(Seq(i).toDF("k").coalesce(1), replace = false)
    val bigBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(root, "data", bigName))

    // target = the big file's size: everything smaller bin-packs, the
    // big file itself is carried into the new manifest BY NAME
    val (was, now) = log.compact(targetFileBytes = bigBytes)
    assert(was == 6 && now == 2, s"($was, $now)")
    val head = log.currentVersion.get
    assert(log.files(head).contains(bigName), "right-sized file must carry by name")
    assert(log.read().as[Long].collect().sorted.toSeq == (1L to 2005L))

    // converged: a second run finds one lone small file and publishes nothing
    assert(log.compact(targetFileBytes = bigBytes) == (2, 2))
    assert(log.currentVersion.get == head, "no-op compact must not commit a version")
  }

  test("commit log: auto-compact folds small files at the threshold; MoR debt skipped") {
    val root = freshRoot() + "/t"
    val log = new graft.catalog.CommitLog(spark, root)
    spark.conf.set("spark.graft.autoCompact.minSmallFiles", "4")
    try {
      // three small commits: below the threshold, nothing folds
      for (i <- 1L to 3L) log.commit(Seq(i).toDF("k").coalesce(1), replace = false)
      assert(log.currentFileCount == 3)
      // the fourth crosses N=4: the hook bin-packs in its own commit
      log.commit(Seq(4L).toDF("k").coalesce(1), replace = false)
      assert(log.currentFileCount == 1,
        s"auto-compact should fold 4 small files, have ${log.currentFileCount}")
      assert(log.operation(log.currentVersion.get) == "compact")
      assert(log.read().as[Long].collect().sorted.toSeq == (1L to 4L))

      // a tombstoned snapshot is skipped (never escalate an append into
      // a full rewrite); the manual fold stays the owner's call
      for (i <- 5L to 7L) log.commit(Seq(i).toDF("k").coalesce(1), replace = false)
      log.deleteKeysMoR(Seq(5L).toDF("k"), "k")
      val vBefore = log.currentVersion.get
      log.commit(Seq(8L).toDF("k").coalesce(1), replace = false)
      assert(log.currentVersion.contains(vBefore + 1),
        "MoR snapshot must not auto-compact")
      assert(log.read().as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L))
    } finally spark.conf.unset("spark.graft.autoCompact.minSmallFiles")
  }

  test("commit log: losing the version race retries with the same pooled names") {
    val root = freshRoot() + "/t"
    val log = new graft.catalog.CommitLog(spark, root)
    log.commit(Seq(1L).toDF("k"), replace = false)
    // inject a racing winner: just before our attempt-0 publish of v2, a
    // competing manifest for v2 appears (its content = v1's files, i.e. a
    // no-op rewrite by another writer)
    val racing = new graft.catalog.CommitLog(spark, root) {
      override protected def beforePublish(attempt: Int, v: Long): Unit =
        if (attempt == 0) {
          val src = new org.apache.hadoop.fs.Path(root, "_commits/00000001.manifest")
          val dst = new org.apache.hadoop.fs.Path(root, f"_commits/$v%08d.manifest")
          org.apache.hadoop.fs.FileUtil.copy(
            graft.catalog.HadoopFs.fs(spark, root), src,
            graft.catalog.HadoopFs.fs(spark, root), dst, false,
            spark.sparkContext.hadoopConfiguration)
        }
    }
    val v = racing.commit(Seq(2L).toDF("k"), replace = false)
    // lost v2, landed v3 — and the manifest must reference files that
    // exist (the retry reuses the names the data was pooled under)
    assert(v == 3L)
    assert(log.readVersion(v).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(log.read().as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("commit log: stray files in _commits are ignored, not fatal") {
    val root = freshRoot() + "/t"
    val log = new graft.catalog.CommitLog(spark, root)
    log.commit(Seq(1L).toDF("k"), replace = false)
    val hfs = graft.catalog.HadoopFs.fs(spark, root)
    for (junk <- Seq("_SUCCESS", "notes.txt", "vNEXT.manifest"))
      hfs.create(new org.apache.hadoop.fs.Path(root, s"_commits/$junk"), true).close()
    assert(log.currentVersion.contains(1L))
    log.vacuum(keepVersions = 1)
    assert(log.read().as[Long].collect().toSeq == Seq(1L))
  }

  test("commit log: vacuum honors retention and drops manifests before files") {
    val log = new graft.catalog.CommitLog(spark, freshRoot() + "/t")
    for (i <- 1L to 3L) log.commit(Seq(i).toDF("k"), replace = false)
    intercept[IllegalArgumentException](log.vacuum(keepVersions = 0))
    val snapshotV2 = log.readVersion(2L)
    val (m1, f1) = log.vacuum(keepVersions = 2, minFileAgeMs = 0L, minVersionAgeMs = 0)
    assert(m1 == 1, "exactly the v1 manifest drops")
    // append chain: v1's pool files are still referenced by v2/v3 → kept
    assert(f1 == 0)
    intercept[java.io.FileNotFoundException](log.files(1L))
    // the retained snapshot resolved BEFORE the vacuum stays fully readable
    assert(snapshotV2.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // a replace commit orphans the whole old chain…
    log.commit(Seq(9L).toDF("k"), replace = true)
    // …but the default age guard protects the young unreferenced files
    // (they could belong to an in-flight commit)
    val (m2, f2) = log.vacuum(keepVersions = 1, minVersionAgeMs = 0)
    assert(m2 == 2 && f2 == 0)
    // aged out, the orphaned pool files of all three old commits go
    val (_, f3) = log.vacuum(keepVersions = 1, minFileAgeMs = 0L, minVersionAgeMs = 0)
    assert(f3 >= 3)
    assert(log.read().as[Long].collect().toSeq == Seq(9L))
  }

  test("commit log: a declared retention policy vacuums from the commit path") {
    val root = freshRoot() + "/t"
    val log = new graft.catalog.CommitLog(spark, root)
    // declared ON THE TABLE (TBLPROPERTIES) — honored by every writer
    // session, scoped to this table only
    log.setProperties(Map("spark.graft.vacuum.retentionMs" -> "3600000"))
    log.commit(Seq(1L).toDF("k").coalesce(1), replace = false)   // v1
    log.commit(Seq(2L).toDF("k").coalesce(1), replace = true)    // v2 orphans v1
    log.commit(Seq(3L).toDF("k").coalesce(1), replace = true)    // v3
    assert(log.history().map(_.version).sorted == Seq(1L, 2L, 3L),
      "young versions: the window has released nothing")
    // a tag is a durable promise: pin v2 before it ages out
    log.createTag("keepme", Some(2L))
    // age v1+v2 (and every pool file) past the 1 h window
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 2L * 3600000L
    for (v <- Seq("00000001", "00000002"))
      fs.setTimes(new org.apache.hadoop.fs.Path(
        s"$root/_commits/$v.manifest"), old, -1)
    val dataIt = fs.listFiles(new org.apache.hadoop.fs.Path(s"$root/data"), true)
    while (dataIt.hasNext) fs.setTimes(dataIt.next().getPath, old, -1)
    // the next publish sweeps: v1 drops with its orphaned pool file,
    // the PINNED v2 survives its age, young v3 is retained by policy
    log.commit(Seq(4L).toDF("k").coalesce(1), replace = true)    // v4
    assert(log.history().map(_.version).sorted == Seq(2L, 3L, 4L),
      s"auto-vacuum must drop exactly the released v1, " +
        s"kept ${log.history().map(_.version).sorted}")
    assert(log.read().as[Long].collect().toSeq == Seq(4L))
    assert(log.readVersion(2L).as[Long].collect().toSeq == Seq(2L),
      "the tag-pinned snapshot must stay readable through the hook")
    // v1's orphaned pool file is gone from disk (aged + unreferenced)
    val liveNames = (log.files(2L) ++ log.files(3L) ++ log.files(4L)).toSet
    val leftover = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$root/data"), true)
      var names = List.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath
        names = p.getName :: names
      }
      names.filterNot(n => liveNames.exists(_.endsWith(n)))
    }
    assert(leftover.isEmpty, s"aged orphans must be reclaimed: $leftover")
  }

  test("asset catalog: reader mid-compact keeps its consistent snapshot") {
    val cat = new AssetCatalog(spark, freshRoot())
    for (i <- 0L to 11L)
      cat.create("source_system", "src_sys_id", Seq(
        SourceSystem(i, s"s$i", "r", ts("2026-01-01 00:00:00"), "active")).toDS())
    // a reader resolves its snapshot BEFORE the compaction lands
    val reader = cat.readTable("source_system")
    val (before, after) = cat.compact("source_system")
    assert(before >= 12 && after == 1)
    assert(reader.select("src_sys_id").as[Long].collect().sorted.toSeq == (0L to 11L))
    // default-retention vacuum must not collect the young unreferenced files
    val (_, young) = cat.vacuum("source_system", minVersionAgeMs = 0)
    assert(young == 0)
    assert(reader.select("src_sys_id").as[Long].collect().sorted.toSeq == (0L to 11L))
    // aged-out vacuum collects them; the compacted head is unaffected
    val (_, collected) = cat.vacuum("source_system", keepVersions = 1, minFileAgeMs = 0L, minVersionAgeMs = 0)
    assert(collected >= 12)
    assert(cat.readTable("source_system").count() == 12)
  }

  test("asset catalog: losing the CRUD version race retries and lands") {
    val root = freshRoot()
    val cat = new AssetCatalog(spark, root) {
      override protected def newLog(table: String): graft.catalog.CommitLog =
        new graft.catalog.CommitLog(spark, s"$root/$table") {
          // inject a racing winner: just before this catalog's publish of
          // v2, a competing manifest for v2 appears (content = v1's files,
          // i.e. a no-op rewrite by another writer)
          override protected def beforePublish(attempt: Int, v: Long): Unit =
            if (attempt == 0 && v == 2L) {
              val hfs = graft.catalog.HadoopFs.fs(spark, root)
              val src = new org.apache.hadoop.fs.Path(
                root, s"$table/_commits/00000001.manifest")
              val dst = new org.apache.hadoop.fs.Path(
                root, f"$table/_commits/$v%08d.manifest")
              org.apache.hadoop.fs.FileUtil.copy(hfs, src, hfs, dst, false,
                spark.sparkContext.hadoopConfiguration)
            }
        }
    }
    seed(cat)
    cat.update("source_system", "src_sys_id",
      Seq((101L, "inactive")).toDF("src_sys_id", "status"))
    // lost v2 to the injected racer, landed v3 — with the update applied
    val log = new graft.catalog.CommitLog(spark, s"$root/source_system")
    assert(log.currentVersion.contains(3L))
    val m = cat.readTable("source_system")
      .select("src_sys_id", "status").as[(Long, String)].collect().toMap
    assert(m == Map(101L -> "inactive", 102L -> "active"))
  }

  test("commit log: 8 truly concurrent appenders all land, nothing lost") {
    val log = new graft.catalog.CommitLog(spark, freshRoot() + "/t")
    // build the frames up front; the threads only race the commit protocol
    val frames = (1L to 8L).map(i => Seq(i).toDF("k"))
    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = frames.map { df =>
      new Thread(() =>
        try versions.add(log.commit(df, replace = false)): Unit
        catch { case t: Throwable => failures.add(t): Unit })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(failures.isEmpty, s"commit threw: ${failures.peek()}")
    // every writer landed a DISTINCT version 1..8 (losers retried, no
    // manifest was overwritten) and the head snapshot holds every row
    import scala.jdk.CollectionConverters._
    assert(versions.asScala.toSeq.sorted == (1L to 8L))
    assert(log.read().as[Long].collect().sorted.toSeq == (1L to 8L))
  }

  test("commit log: an append commit with an added column evolves the schema") {
    val log = new graft.catalog.CommitLog(spark, freshRoot() + "/t")
    log.commit(Seq(1L).toDF("k"), replace = false)
    log.commit(Seq((2L, "x")).toDF("k", "extra"), replace = false)
    val out = log.read()
    assert(out.columns.sorted.toSeq == Seq("extra", "k"))
    val m = out.select("k", "extra").as[(Long, Option[String])].collect().toMap
    assert(m == Map(1L -> None, 2L -> Some("x")))
    // old snapshots keep their narrow schema
    assert(log.readVersion(1L).columns.toSeq == Seq("k"))
  }

  test("commit log: time travel reads the version as of a commit instant") {
    val log = new graft.catalog.CommitLog(spark, freshRoot() + "/t")
    val v1 = log.commit(Seq(1L).toDF("k"), replace = false)
    val t1 = log.commitTime(v1)
    Thread.sleep(30)   // separate the two commit instants at mtime granularity
    log.commit(Seq(2L).toDF("k"), replace = false)
    assert(log.versionAsOf(t1).contains(v1))
    assert(log.readAsOf(t1).as[Long].collect().toSeq == Seq(1L))
    assert(log.readAsOf(System.currentTimeMillis())
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    intercept[java.io.FileNotFoundException](log.readAsOf(t1 - 1000000L))
  }

  test("scd2: history closes changed rows, opens new ones, reads point-in-time") {
    import graft.catalog.{CommitLog, Scd2}
    val log = new CommitLog(spark, freshRoot() + "/dim")
    val t0 = ts("2026-01-01 00:00:00"); val t1 = ts("2026-02-01 00:00:00")
    log.commit(Scd2.initial(
      Seq((101L, "crm", "active"), (102L, "erp", "active"))
        .toDF("src_sys_id", "name", "status"), t0), replace = true)
    val updates = Seq(
      (101L, "crm", "inactive"),   // payload changed → close + open
      (102L, "erp", "active"),     // identical → no-op (idempotent redelivery)
      (103L, "mes", "active"))     // new key → open
      .toDF("src_sys_id", "name", "status")
    log.commit(Scd2.applyBatch(log.read(), updates, "src_sys_id", t1),
      replace = true)
    val h = log.read()
    assert(h.count() == 4)   // 101 closed + 101 current + 102 + 103
    val cur = h.filter(col("is_current"))
      .select("src_sys_id", "status").as[(Long, String)].collect().toMap
    assert(cur == Map(101L -> "inactive", 102L -> "active", 103L -> "active"))
    val old101 = h.filter(col("src_sys_id") === 101L && !col("is_current")).collect()
    assert(old101.length == 1 &&
      old101.head.getAs[Timestamp]("effective_to") == t1)
    // point-in-time between the batches: original payloads, no 103 yet
    val mid = Scd2.asOf(h, ts("2026-01-15 00:00:00"))
      .select("src_sys_id", "status").as[(Long, String)].collect().toMap
    assert(mid == Map(101L -> "active", 102L -> "active"))
    // re-delivering the same batch at a later ts adds no spurious versions
    val again = Scd2.applyBatch(h, updates, "src_sys_id", ts("2026-03-01 00:00:00"))
    assert(again.count() == 4)
  }

  test("right to erasure: delete + aged vacuum physically removes the key from disk") {
    val root = freshRoot()
    val cat = new AssetCatalog(spark, root)
    seed(cat)
    cat.deleteKeys("source_system", "src_sys_id", Seq(101L))
    // logically gone immediately…
    assert(cat.read("source_system", "src_sys_id", 101L).count() == 0)
    // …but history versions (and their pool files) still hold it until
    // retention expires — that's the snapshot contract, not a leak
    cat.vacuum("source_system", keepVersions = 1, minFileAgeMs = 0L, minVersionAgeMs = 0)
    // now NO surviving pool file may contain the erased key: scan every
    // remaining parquet file under the table root directly
    val hfs = graft.catalog.HadoopFs.fs(spark, root)
    val it = hfs.listFiles(new org.apache.hadoop.fs.Path(root, "source_system"), true)
    val parquets = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq
    assert(parquets.nonEmpty)
    val residual = spark.read.parquet(parquets: _*)
      .filter(col("src_sys_id") === 101L).count()
    assert(residual == 0, "erased key still present in a pool file")
    assert(cat.readTable("source_system").select("src_sys_id")
      .as[Long].collect().toSeq == Seq(102L))
  }

  test("commit log: footer stats in the manifest prune file-skipping reads") {
    import graft.catalog.CommitLog
    val log = new CommitLog(spark, freshRoot() + "/t")
    // 3 range-clustered pool files with EXACT bounds: one single-file
    // append per contiguous third of 0..299
    for (lo <- Seq(0L, 100L, 200L))
      log.commit(spark.range(lo, lo + 100).toDF("k")
        .withColumn("payload", format_string("row-%03d", col("k")))
        .coalesce(1), replace = false)
    val v = log.currentVersion.get
    val stats = log.fileStats(v)
    assert(stats.size == 3, s"every pool file carries stats, got ${stats.size}")
    assert(stats.values.forall(m => m.contains("k") && m.contains("payload")))
    // the narrow range lives in ONE file; the pruned read scans only it
    val pruned = log.readBetween("k", 10, 20)
    assert(pruned.inputFiles.length == 1,
      s"expected 1 scanned file, got ${pruned.inputFiles.length}")
    assert(log.read().count() == 300)
    assert(pruned.as[(Long, String)].collect().sorted.toSeq ==
      (10L to 20L).map(i => (i, f"row-$i%03d")))
    // string stats prune too
    assert(log.readBetween("payload", "row-100", "row-100").inputFiles.length == 1)
    // fully out-of-range: zero files scanned, empty result, schema kept
    val none = log.readBetween("k", 1000, 2000)
    assert(none.inputFiles.isEmpty && none.count() == 0)
    assert(none.columns.toSeq == Seq("k", "payload"))
    // an append carries the old stats lines forward and adds its own
    log.commit(Seq((5000L, "row-5000")).toDF("k", "payload"), replace = false)
    val v2 = log.currentVersion.get
    assert(log.fileStats(v2).size == 4)
    assert(log.readBetween("k", 5000, 5000).inputFiles.length == 1)
  }

  test("commit log: merge rewrites only the files containing matched keys") {
    import graft.catalog.CommitLog
    val log = new CommitLog(spark, freshRoot() + "/t")
    for (lo <- Seq(0L, 100L, 200L))
      log.commit(spark.range(lo, lo + 100).toDF("k")
        .withColumn("payload", format_string("row-%03d", col("k")))
        .coalesce(1), replace = false)
    val v1 = log.currentVersion.get
    val oldFiles = log.files(v1).toSet
    assert(oldFiles.size == 3)
    // two updated keys land in the same range file; one key is brand new
    val updates = Seq((10L, "upd-10"), (20L, "upd-20"), (1000L, "row-1000"))
      .toDF("k", "payload")
    val v2 = log.merge(updates, "k")
    val newFiles = log.files(v2).toSet
    // the two untouched range files are carried by NAME — not rewritten
    assert((oldFiles & newFiles).size == 2,
      s"expected 2 carried files, manifest: $newFiles")
    val out = log.read()
    assert(out.count() == 301)
    val m = out.as[(Long, String)].collect().toMap
    assert(m(10L) == "upd-10" && m(20L) == "upd-20" && m(1000L) == "row-1000")
    assert(m(150L) == "row-150" && m(299L) == "row-299")
    // a merge matching nothing carries EVERY file and only appends
    val v3 = log.merge(Seq((2000L, "row-2000")).toDF("k", "payload"), "k")
    assert(newFiles.subsetOf(log.files(v3).toSet))
    assert(log.read().count() == 302)
    // rewritten + appended files carry fresh stats: pruning still works
    assert(log.readBetween("k", 2000, 2000).inputFiles.length == 1)
    // schema mismatch and duplicate update keys fail fast
    intercept[IllegalArgumentException](
      log.merge(Seq((1L, "x"), (1L, "y")).toDF("k", "payload"), "k"))
    intercept[IllegalArgumentException](
      log.merge(Seq(1L).toDF("k"), "k"))
  }

  test("commit log: copy-on-write delete rewrites only the files containing the keys") {
    import graft.catalog.CommitLog
    val log = new CommitLog(spark, freshRoot() + "/t")
    for (lo <- Seq(0L, 100L, 200L))
      log.commit(spark.range(lo, lo + 100).toDF("k")
        .withColumn("payload", format_string("row-%03d", col("k")))
        .coalesce(1), replace = false)
    val v1 = log.currentVersion.get
    val oldFiles = log.files(v1).toSet
    // both keys live in the middle range file — only it is rewritten
    val vd = log.deleteKeys(Seq(150L, 160L).toDF("k"), "k")
    assert(vd == v1 + 1)
    val newFiles = log.files(vd).toSet
    assert((oldFiles & newFiles).size == 2,
      s"expected 2 carried files, manifest: $newFiles")
    assert(log.read().count() == 298)
    assert(log.read().filter(col("k").isin(150L, 160L)).count() == 0)
    assert(log.read().filter(col("k") === 151L).count() == 1)
    // a delete matching nothing commits NOTHING — same version, no write
    assert(log.deleteKeys(Seq(9999L).toDF("k"), "k") == vd)
    assert(log.currentVersion.contains(vd))
  }

  test("commit log: optimizeBy range-clusters the table so pruning hits one file") {
    import graft.catalog.CommitLog
    val root = freshRoot() + "/t"
    val log = new CommitLog(spark, root)
    // interleaved appends: every pool file spans the WHOLE key range, so
    // footer stats can prune nothing
    for (r <- 0L to 2L)
      log.commit(spark.range(0, 300).filter(pmod(col("id"), lit(3)) === r)
        .toDF("k").withColumn("payload", format_string("row-%03d", col("k")))
        .coalesce(1), replace = false)
    assert(log.readBetween("k", 10, 20).inputFiles.length == 3,
      "interleaved layout must defeat pruning")
    // target a third of the current bytes → ~3 range-disjoint files
    val hfs = graft.catalog.HadoopFs.fs(spark, root)
    val total = log.files(log.currentVersion.get)
      .map(n => hfs.getFileStatus(
        new org.apache.hadoop.fs.Path(root + "/data", n)).getLen).sum
    val (before, after) = log.optimizeBy("k", targetFileBytes = total / 3)
    assert(before == 3 && after >= 3, s"expected a multi-file rewrite, got $after")
    assert(log.read().count() == 300)
    // clustered: the same range read now scans exactly one file
    assert(log.readBetween("k", 10, 20).inputFiles.length == 1)
    assert(log.readBetween("k", 10, 20).count() == 11)
  }

  test("asset catalog: update and delete rewrite only the touched pool files") {
    val root = freshRoot()
    val cat = new AssetCatalog(spark, root)
    // 3 single-row creates → 3 pool files with disjoint key stats
    for (i <- Seq(101L, 102L, 103L))
      cat.create("source_system", "src_sys_id", Seq(
        SourceSystem(i, s"s$i", "r", ts("2026-01-01 00:00:00"), "active")).toDS())
    val log = new graft.catalog.CommitLog(spark, s"$root/source_system")
    val filesBefore = log.files(log.currentVersion.get).toSet
    cat.update("source_system", "src_sys_id",
      Seq((102L, "inactive")).toDF("src_sys_id", "status"))
    val filesAfter = log.files(log.currentVersion.get).toSet
    // the two unrelated key files are carried by name
    assert((filesBefore & filesAfter).size == 2,
      s"update must not rewrite unrelated files: $filesAfter")
    val m = cat.readTable("source_system")
      .select("src_sys_id", "status").as[(Long, String)].collect().toMap
    assert(m == Map(101L -> "active", 102L -> "inactive", 103L -> "active"))
    cat.deleteKeys("source_system", "src_sys_id", Seq(101L))
    val filesFinal = log.files(log.currentVersion.get).toSet
    assert((filesAfter & filesFinal).size == 2,
      s"delete must not rewrite unrelated files: $filesFinal")
    assert(cat.readTable("source_system").select("src_sys_id")
      .as[Long].collect().sorted.toSeq == Seq(102L, 103L))
  }

  test("commit log: change data feed lists exactly the added and removed rows") {
    import graft.catalog.CommitLog
    val log = new CommitLog(spark, freshRoot() + "/t")
    for (lo <- Seq(0L, 100L, 200L))
      log.commit(spark.range(lo, lo + 100).toDF("k")
        .withColumn("payload", format_string("row-%03d", col("k")))
        .coalesce(1), replace = false)
    val v1 = log.currentVersion.get
    // pure append → one insert, no deletes
    val v2 = log.commit(Seq((500L, "row-500")).toDF("k", "payload"), replace = false)
    val c12 = log.changesBetween(v1, v2)
    assert(c12.filter(col("_change_type") === "insert")
      .as[(Long, String, String)].collect().toSeq == Seq((500L, "row-500", "insert")))
    assert(c12.filter(col("_change_type") === "delete").count() == 0)
    // CoW merge touching ONLY the middle file → that file's rows cycle,
    // the rest of the table never appears in the feed
    val v3 = log.merge(Seq((150L, "upd-150")).toDF("k", "payload"), "k")
    val c23 = log.changesBetween(v2, v3)
    val dels = c23.filter(col("_change_type") === "delete")
    val ins = c23.filter(col("_change_type") === "insert")
    assert(dels.count() == 100 && ins.count() == 100)
    assert(dels.agg(min(col("k")), max(col("k"))).as[(Long, Long)].head() == ((100L, 199L)))
    // net diff = exactly the changed row pair
    assert(ins.drop("_change_type").exceptAll(dels.drop("_change_type"))
      .as[(Long, String)].collect().toSeq == Seq((150L, "upd-150")))
    assert(dels.drop("_change_type").exceptAll(ins.drop("_change_type"))
      .as[(Long, String)].collect().toSeq == Seq((150L, "row-150")))
    // CoW delete → one delete, no inserts; empty span → empty feed
    val v4 = log.deleteKeys(Seq(500L).toDF("k"), "k")
    val c34 = log.changesBetween(v3, v4)
    assert(c34.filter(col("_change_type") === "delete")
      .as[(Long, String, String)].collect().toSeq == Seq((500L, "row-500", "delete")))
    assert(c34.filter(col("_change_type") === "insert").count() == 0)
    assert(log.changesBetween(v4, v4).count() == 0)
  }

  test("change data feed incrementally maintains a replica to multiset parity") {
    import graft.catalog.CommitLog
    val log = new CommitLog(spark, freshRoot() + "/t")
    for (lo <- Seq(0L, 100L, 200L))
      log.commit(spark.range(lo, lo + 100).toDF("k")
        .withColumn("payload", format_string("row-%03d", col("k")))
        .coalesce(1), replace = false)
    val v1 = log.currentVersion.get
    // replica bootstraps from the v1 snapshot…
    val replica = new CommitLog(spark, freshRoot() + "/r")
    replica.commit(log.readVersion(v1), replace = true)
    // …then the primary moves on: append + upsert + delete
    log.commit(Seq((500L, "row-500")).toDF("k", "payload"), replace = false)
    log.merge(Seq((150L, "upd-150"), (600L, "row-600")).toDF("k", "payload"), "k")
    val v4 = log.deleteKeys(Seq(7L, 500L).toDF("k"), "k")
    // one catch-up pass from the feed — never a full table copy
    val feed = log.changesBetween(v1, v4)
    val ins = feed.filter(col("_change_type") === "insert").drop("_change_type")
    val del = feed.filter(col("_change_type") === "delete").drop("_change_type")
    replica.commit(replica.read().exceptAll(del).unionByName(ins), replace = true)
    val a = log.read(); val b = replica.read()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "replica diverged from primary after CDF catch-up")
    assert(b.count() == 300)   // 300 - 7 - 500 + 500 + 600 + (150 upd in place)
  }

  test("commit log: a CoW merge racing a concurrent appender loses, recomputes, both land") {
    import graft.catalog.CommitLog
    val root = freshRoot() + "/t"
    val log = new CommitLog(spark, root)
    for (lo <- Seq(0L, 100L, 200L))
      log.commit(spark.range(lo, lo + 100).toDF("k")
        .withColumn("payload", format_string("row-%03d", col("k")))
        .coalesce(1), replace = false)
    val append = Seq((900L, "row-900")).toDF("k", "payload")
    // inject a racing appender exactly once, just before the merge's
    // first publish — the merge must detect the stale head and recompute
    // against the appended snapshot, not clobber it
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racingMerge = new CommitLog(spark, root) {
      override protected def beforePublish(attempt: Int, v: Long): Unit =
        if (raced.compareAndSet(false, true))
          new CommitLog(spark, root).commit(append, replace = false): Unit
    }
    val vm = racingMerge.merge(Seq((150L, "upd-150")).toDF("k", "payload"), "k")
    assert(vm == 5L, s"merge should land AFTER the injected v4 append, got v$vm")
    val m = log.read().as[(Long, String)].collect().toMap
    assert(m.size == 301, "the concurrent append must survive the merge")
    assert(m(900L) == "row-900" && m(150L) == "upd-150")
  }

  test("commit log: txn ids land atomically with their commit and survive rewrites") {
    import graft.catalog.CommitLog
    val log = new CommitLog(spark, freshRoot() + "/t")
    val v1 = log.commit(Seq((1L, "a")).toDF("k", "p"), replace = true, Some("batch-1"))
    assert(log.txns(v1) == Set("batch-1"))
    // redelivered txn: skipped entirely — same head, no new version
    assert(log.commit(Seq((9L, "x")).toDF("k", "p"), replace = false,
      Some("batch-1")) == v1)
    assert(log.currentVersion.contains(v1))
    assert(log.read().count() == 1)
    // append with a new txn carries the old header
    val v2 = log.commit(Seq((2L, "b")).toDF("k", "p"), replace = false, Some("batch-2"))
    assert(log.txns(v2) == Set("batch-1", "batch-2"))
    // applied-batch memory survives compaction, CoW merge, and delete
    log.compact()
    assert(log.txns(log.currentVersion.get) == Set("batch-1", "batch-2"))
    log.merge(Seq((1L, "a2")).toDF("k", "p"), "k")
    log.deleteKeys(Seq(2L).toDF("k"), "k")
    assert(log.txns(log.currentVersion.get) == Set("batch-1", "batch-2"))
    assert(log.read().as[(Long, String)].collect().toSeq == Seq((1L, "a2")))
  }

  test("commit log: past the refine cap, stats alone bound the CoW rewrite — still exact") {
    import graft.catalog.CommitLog
    val root = freshRoot() + "/t"
    val log = new CommitLog(spark, root)
    for (lo <- Seq(0L, 100L, 200L))
      log.commit(spark.range(lo, lo + 100).toDF("k")
        .withColumn("payload", format_string("row-%03d", col("k")))
        .coalesce(1), replace = false)
    // cap 0: every stats-overlapping candidate counts as touched; the
    // refinement scan (and its driver fetch) never runs at all
    val capped = new CommitLog(spark, root) {
      override protected def touchRefineCap: Int = 0
    }
    val before = log.files(log.currentVersion.get).toSet
    // keys 10 and 250 span [10, 250] — stats overlap ALL three files even
    // though only the first and last contain a match
    capped.merge(Seq((10L, "upd-10"), (250L, "upd-250")).toDF("k", "payload"), "k")
    val after = log.files(log.currentVersion.get).toSet
    assert((before & after).isEmpty,
      "under cap 0 every overlapping candidate must be rewritten")
    val m = log.read().as[(Long, String)].collect().toMap
    assert(m.size == 300 && m(10L) == "upd-10" && m(250L) == "upd-250"
      && m(150L) == "row-150")
    // delete through the capped path stays exact too
    capped.deleteKeys(Seq(150L).toDF("k"), "k")
    assert(log.read().count() == 299)
    assert(log.read().filter(col("k") === 150L).count() == 0)
  }

  test("commit log: head discovery is O(1) metadata reads after 500 commits") {
    import graft.catalog.CommitLog
    val root = freshRoot() + "/t"
    val writer = new CommitLog(spark, root)
    // 500 commits in one JVM; each appends a 25-row chunk
    for (i <- 0L until 500L)
      writer.commit(spark.range(i * 25, i * 25 + 25).toDF("k").coalesce(1),
        replace = false)
    // a FRESH reader (no cached state) resolves and reads the head
    // opening exactly 2 metadata files: the head hint + that version's
    // manifest — never an O(versions) listing of _commits
    val reader = new Counting(root)
    val head = reader.read()
    assert(reader.lists.get == 0,
      s"read listed _commits ${reader.lists.get} times; the hint path must not list")
    assert(reader.opens.get <= 2,
      s"read opened ${reader.opens.get} metadata files, expected <=2")
    assert(head.count() == 12500)
    // a stale hint self-heals by probing forward, not by mislistng the head
    val hfs = graft.catalog.HadoopFs.fs(spark, root)
    val out = hfs.create(new org.apache.hadoop.fs.Path(root, "_commits/_head.hint"), true)
    out.write("497\n".getBytes("UTF-8")); out.close()
    val stale = new Counting(root)
    assert(stale.currentVersion.contains(500L))
    assert(stale.lists.get == 0)
    // time travel, CDF, and RESTORE are unaffected by the pointer plane
    assert(reader.readVersion(3L).count() == 75)
    assert(reader.changesBetween(499L, 500L).count() == 25)
    val vr = reader.restore(499L)
    assert(vr == 501L && reader.read().count() == 12475)
    assert(new Counting(root).currentVersion.contains(501L))
  }

  test("commit log: a whole-file commit reads the head once before its race") {
    import graft.catalog.CommitLog
    val flat = freshRoot() + "/t"
    new CommitLog(spark, flat).commit(spark.range(0, 10).toDF("k"), replace = false)
    val parted = freshRoot() + "/p"
    def rows(lo: Long) = spark.range(lo, lo + 10).select($"id".as("k"), ($"id" % 2).as("p"))
    new CommitLog(spark, parted).commitPartitioned(rows(0), Seq("p"), replace = true)
    /** Metadata opens of one commit through a fresh handle. */
    def opens(root: String)(commit: CommitLog => Any): Int = {
      val log = new Counting(root)
      commit(log)
      assert(log.lists.get == 0, s"a commit listed _commits ${log.lists.get} times")
      log.opens.get
    }
    val got = Seq(
      opens(flat)(_.commit(spark.range(10, 20).toDF("k"), replace = false)),
      opens(flat)(_.commit(spark.range(20, 30).toDF("k"), replace = false, Some("batch-1"))),
      opens(parted)(_.commitPartitioned(rows(10), Seq("p"), replace = false)))
    // one pre-race read (head hint + manifest), then one race attempt (the same two)
    assert(got == Seq(4, 4, 4),
      s"metadata opens of an append, a txn append and a partitioned append: $got")
    assert(new CommitLog(spark, flat).read().count() == 30)
  }

  test("audit log: append, lookup, guarded status update") {
    val log = new AuditLog(spark, freshRoot() + "/audit")
    log.append("req-1", "create", "fn", Map("tasktype" -> "create"), """{"k":1}""")
    log.append("req-2", "read", "fn", Map("tasktype" -> "read"), """{"k":2}""")
    assert(log.events.count() == 2)
    assert(log.lookup("req-1", "create").count() == 1)
    log.setStatus("req-1", "create", "failed")
    val st = log.events.select("aws_request_id", "status")
      .as[(String, String)].collect().toMap
    assert(st == Map("req-1" -> "failed", "req-2" -> "success"))
    // guarded: a non-existent key updates nothing
    log.setStatus("req-404", "create", "failed")
    assert(log.events.filter(col("status") === "failed").count() == 1)
  }

  test("audit log: setStatus is CoW — untouched file carried, racing append survives") {
    val root = freshRoot() + "/audit"
    val plain = new AuditLog(spark, root)
    plain.append("req-1", "create", "fn", Map("t" -> "c"), """{"k":1}""")
    plain.append("req-2", "read", "fn", Map("t" -> "r"), """{"k":2}""")
    val cl = new graft.catalog.CommitLog(spark, root)
    val fileA = cl.files(1L).toSet            // holds req-1 (the updated key)
    val fileB = cl.files(2L).toSet -- fileA   // holds req-2 (untouched)
    assert(fileA.nonEmpty && fileB.nonEmpty)
    // two-writer race: just before setStatus's first publish, a concurrent
    // append wins the targeted version — the retry must not erase it
    @volatile var injected = false
    val racing = new AuditLog(spark, root) {
      override protected def newLog(): graft.catalog.CommitLog =
        new graft.catalog.CommitLog(spark, root) {
          override protected def beforePublish(attempt: Int, v: Long): Unit =
            if (!injected) {
              injected = true
              new AuditLog(spark, root).append("req-3", "update", "fn",
                Map("t" -> "u"), """{"k":3}""")
            }
        }
    }
    racing.setStatus("req-1", "create", "failed")
    assert(injected)
    val st = plain.events.select("aws_request_id", "status")
      .as[(String, String)].collect().toMap
    assert(st == Map("req-1" -> "failed", "req-2" -> "success",
      "req-3" -> "success"),
      "both the racing append and the status update must survive")
    // CoW, not replace: v3 = racer's append, v4 = the retried update;
    // the untouched file is carried by name, the touched one is not
    val head = cl.currentVersion.get
    assert(head == 4L, s"expected lost-race retry to land v4, got v$head")
    val afterFiles = cl.files(head).toSet
    assert((fileB -- afterFiles).isEmpty,
      "untouched audit file must be carried by name, not rewritten")
    assert((fileA & afterFiles).isEmpty,
      "the touched file must have been replaced by the CoW rewrite")
  }

  test("audit log: a MoR status correction outlasts more racing appends than " +
      "a copy-on-write rewrite's 5 attempts") {
    val root = freshRoot() + "/audit"
    val plain = new AuditLog(spark, root)
    plain.append("req-1", "create", "fn", Map("t" -> "c"), "{}")
    val racers = 7
    assert(racers > 5 && racers < graft.catalog.AuditLog.MorStatusAttempts)
    // a concurrent append wins the targeted version before each of the
    // correction's first `racers` publishes
    val racing = new AuditLog(spark, root) {
      override protected def newLog(): graft.catalog.CommitLog =
        new graft.catalog.CommitLog(spark, root) {
          override protected def beforePublish(attempt: Int, v: Long): Unit =
            if (attempt < racers) new AuditLog(spark, root).append(s"race-$attempt",
              "create", "fn", Map("t" -> "c"), "{}")
        }
    }
    racing.setStatus("req-1", "create", "failed", mor = true)
    val st = plain.events.select("aws_request_id", "status")
      .as[(String, String)].collect()
    assert(st.toMap.apply("req-1") == "failed" && st.length == racers + 1,
      s"every racing append and the correction must land once: ${st.toSeq}")
  }

  test("registry failover: promoteSecondary makes every replica writable " +
      "and fences the primaries; reverse resync reaches parity") {
    import graft.catalog.TargetSystem
    val root = freshRoot()
    val cat = new AssetCatalog(spark, root)
    seed(cat)
    cat.create("target_system", "tgt_sys_id", Seq(
      TargetSystem(201L, "lake", "us-east-1", ts("2026-01-03 00:00:00"),
        "active")).toDS())
    val sec = freshRoot()
    cat.replicate(sec)

    // region loss: one call promotes the whole secondary registry
    val res = cat.promoteSecondary(sec)
    assert(res.keySet == Set("source_system", "target_system"))
    assert(res.values.forall { case (v, g, fenced) =>
      v > 0 && g == 1L && fenced }, s"whole-registry promote: $res")

    // writes land on the promoted registry
    val secCat = new AssetCatalog(spark, sec)
    secCat.create("source_system", "src_sys_id", Seq(
      SourceSystem(103L, "mes", "us-east-1", ts("2026-01-04 00:00:00"),
        "active")).toDS())
    assert(secCat.readTable("source_system").count() == 3)

    // every fenced primary bounces writes
    val e = intercept[IllegalStateException] {
      cat.create("source_system", "src_sys_id", Seq(
        SourceSystem(104L, "stale", "us-east-2", ts("2026-01-05 00:00:00"),
          "x")).toDS())
    }
    assert(e.getMessage.contains("FENCED"))

    // reverse resync: the rejoined region re-registers as the replica
    // of the promoted registry and reaches parity
    secCat.replicate(root)
    assert(secCat.replicaParity(root, "source_system"))
    assert(secCat.replicaParity(root, "target_system"))
  }

  test("promoteSecondary with the primary region unreachable: every " +
      "promotion still lands, only the fence stamp is deferred") {
    val root = freshRoot()
    val cat = new AssetCatalog(spark, root)
    seed(cat)
    val sec = freshRoot()
    cat.replicate(sec)
    // the primary region is GONE: a catalog addressed at an
    // unresolvable filesystem cannot even build the fence target —
    // the promotion must not depend on it
    val lost = new AssetCatalog(spark, "unreachable-scheme://lost-region/reg")
    val res = lost.promoteSecondary(sec)
    assert(res.keySet == Set("source_system"))
    assert(res("source_system")._1 > 0 && res("source_system")._2 == 1L,
      s"promotion must survive a dead primary region: $res")
    assert(!res("source_system")._3, "the fence stamp is deferred, not faked")
    // the promoted registry is writable
    new AssetCatalog(spark, sec).create("source_system", "src_sys_id", Seq(
      SourceSystem(103L, "mes", "us-east-1", ts("2026-01-04 00:00:00"),
        "active")).toDS())
  }

  test("maintain_all: one sweep services a cold table's declared debt, " +
      "skips undeclared tables, and a failing table doesn't stop the walk") {
    import graft.catalog.CommitLog
    val root = freshRoot()

    // `boom` sorts FIRST — its injected failure must not stop the walk
    val boom = new CommitLog(spark, s"$root/boom")
    boom.commit((1L to 5L).toDF("k"), replace = false)

    // `debts` accumulates every debt class COLD: expired-TTL rows, MoR
    // tombstones, small files, aged versions — built on a handle whose
    // props latched EMPTY (policies declared only afterwards), so no
    // publish-time hook ever fires during the build
    val dRoot = s"$root/debts"
    val d = new CommitLog(spark, dRoot)
    d.commit((1L to 50L).map(k => (k, 1000L)).toDF("k", "ev")
      .coalesce(1), replace = false)                  // v1: ancient rows
    d.commit((51L to 100L).map(k => (k, 999999L)).toDF("k", "ev")
      .coalesce(1), replace = false)                  // v2: fresh rows
    d.setTtl("ev", 10000L)                            // v3: policy header
    d.deleteWhereMoR(col("k").between(51L, 60L))      // v4: tombstone debt
    assert(d.dvFiles(d.currentVersion.get).nonEmpty && d.currentFileCount == 2)

    // `plain` declares nothing — the sweep must not touch it
    val p = new CommitLog(spark, s"$root/plain")
    p.commit((1L to 3L).toDF("k"), replace = false)
    val plainBefore = p.currentVersion

    // the policies land as TBLPROPERTIES with NO commit — the table is
    // cold from here on; only a sweep can service it
    d.setProperties(Map(
      "spark.graft.ttl.autoEnforce" -> "true",
      "spark.graft.ttl.asOfMs" -> "1000000",          // expires ev <= 990000
      "spark.graft.rewriteDeletes.maxDebtRatio" -> "0.05",
      "spark.graft.autoCompact.minSmallFiles" -> "2",
      "spark.graft.vacuum.retentionMs" -> "1"))
    Thread.sleep(50)   // age every version past the 1 ms retention

    val sweeper = new graft.catalog.AssetCatalog(spark, root) {
      override protected def newLog(table: String): CommitLog =
        if (table == "boom") new CommitLog(spark, s"$root/boom") {
          override def maintain(): Seq[String] =
            throw new RuntimeException("maintenance outage (spec-injected)")
        } else super.newLog(table)
    }
    val fired = sweeper.maintainAll()

    assert(fired("boom").isEmpty, "a failing table reports empty, not a crash")
    assert(fired("plain").isEmpty && p.currentVersion == plainBefore,
      "an undeclared table is untouched")
    assert(fired("debts").nonEmpty, s"the cold table must be serviced: $fired")

    val after = new CommitLog(spark, dRoot)
    val head = after.currentVersion.get
    assert(after.dvFiles(head).isEmpty, "tombstone debt folded")
    assert(after.currentFileCount == 1, "small files compacted")
    assert(after.read().select("k").as[Long].collect().toSet ==
      (61L to 100L).toSet,
      "expired rows gone (TTL), tombstoned rows gone (fold), rest intact")
    assert(after.history().length < head.toInt,
      "aged versions vacuumed under the declared retention")

    // a second sweep is idempotent: nothing left to service
    val again = new graft.catalog.AssetCatalog(spark, root).maintainAll()
    assert(again("debts").forall(p => p == "vacuum") ,
      s"re-sweep must find no data debt: $again")
  }
}
