package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

/** Atomic put-if-absent publication of commit manifests — the single
  * primitive the whole commit protocol rests on. A manifest named
  * `NNNNNNNN.manifest` is the commit of version N: whoever creates the
  * name first owns the version; everyone else must observe a clean
  * failure and retry at N+1. What makes that safe differs per storage
  * substrate, so the protocol is a pluggable seam instead of an
  * assumption baked into [[CommitLog]]:
  *
  *  - POSIX local disk: rename REPLACES the destination, so rename is
  *    NOT a conditional create. [[LocalLinkLogStore]] publishes via
  *    `Files.createLink`, which the kernel guarantees fails with EEXIST
  *    when the destination exists — atomic, no TOCTOU window.
  *  - HDFS: rename refuses an existing destination atomically under
  *    the namenode lock, and the renamed file arrives with its COMPLETE
  *    content (unlike `create(overwrite=false)`, which opens a torn
  *    window between create and close) — [[RenameLogStore]].
  *  - S3-class object stores: there is NO atomic rename (rename is a
  *    client-side copy+delete that silently replaces the destination),
  *    so a rename-based protocol loses one of two racing commits. The
  *    store's own conditional-create primitive (S3 `If-None-Match:*`
  *    conditional PUT, GCS `ifGenerationMatch=0`, ABFS ETag
  *    preconditions) is the correct publish; deployments plug it in via
  *    the `spark.graft.commit.logstore` session conf (class name with a
  *    `(SparkSession, String)` or no-arg constructor). The reference's
  *    data plane is exactly this substrate — per-source encrypted S3
  *    buckets (reference cft/sourceSystem.yaml:20-27) — which is why
  *    the protocol cannot assume rename semantics.
  *
  * Data files never need this primitive: pool files are written once
  * under fresh UUID names (no two writers ever race on one name) and
  * become visible only when a manifest references them. Only the
  * manifest name is contended, so one conditional create per commit is
  * the entire coordination cost.
  */
private[graft] trait LogStore {
  /** Create `dst` with `content` iff `dst` does not already exist.
    * Must be atomic: under any interleaving of concurrent callers,
    * exactly one succeeds and the rest return false with the winner's
    * content intact. A torn/partial destination must never be visible.
    */
  def putIfAbsent(dst: Path, content: Array[Byte]): Boolean
}

private[graft] object LogStore {
  /** Conf key naming a LogStore implementation class for deployments
    * whose substrate needs a native conditional-put (object stores).
    */
  val ConfKey = "spark.graft.commit.logstore"

  def forPath(spark: org.apache.spark.sql.SparkSession, root: String): LogStore = {
    val fs = HadoopFs.fs(spark, root)
    spark.conf.getOption(ConfKey) match {
      case Some(cls) =>
        val c = Class.forName(cls)
        val ctor = c.getConstructors.minBy(_.getParameterCount)
        (ctor.getParameterCount match {
          case 0 => ctor.newInstance()
          case 2 => ctor.newInstance(spark, root)
          case n => throw new IllegalArgumentException(
            s"$cls: unsupported LogStore constructor arity $n")
        }).asInstanceOf[LogStore]
      case None if fs.getUri.getScheme == "file" => new LocalLinkLogStore(fs)
      case None => new RenameLogStore(fs)
    }
  }

  /** The whole content of `p`: the one read path for manifests, hints
    * and sidecars.
    */
  def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  def readString(fs: FileSystem, p: Path): String =
    new String(readBytes(fs, p), StandardCharsets.UTF_8)

  def write(fs: FileSystem, p: Path, content: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(content) finally out.close()
  }

  /** Atomically REPLACE `p` with `content`: write a temp sibling, then
    * rename over the destination (FileContext OVERWRITE — atomic on
    * POSIX and HDFS; object-store deployments get the same no-torn-read
    * contract from their rename emulation because the temp file is
    * complete before the swap starts). Readers observe either the old
    * or the new COMPLETE content, never a truncated prefix — the
    * contract mutable root files need (the table descriptor), where
    * [[write]]'s create(overwrite=true) opens a truncate-then-fill
    * window in which a racing reader parses invalid JSON.
    */
  def writeAtomic(fs: FileSystem, p: Path, content: Array[Byte]): Unit = {
    val tmp = new Path(p.getParent,
      "." + p.getName + ".tmp-" + java.util.UUID.randomUUID())
    write(fs, tmp, content)
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, fs.getConf)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case t: Throwable =>
        try fs.delete(tmp, false) catch {
          case scala.util.control.NonFatal(_) => ()
        }
        throw t
    }
  }

  def lines(content: Seq[String]): Array[Byte] =
    (content.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)
}

/** POSIX publish: stage to a temp name, hard-link into place.
  * `Files.createLink` fails with EEXIST if the destination exists — the
  * kernel-atomic lose-the-race primitive POSIX rename does not provide.
  */
private[graft] final class LocalLinkLogStore(fs: FileSystem) extends LogStore {
  def putIfAbsent(dst: Path, content: Array[Byte]): Boolean = {
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    LogStore.write(fs, tmp, content)
    try {
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.Paths.get(tmp.toUri.getPath))
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally fs.delete(tmp, false): Unit
  }
}

/** HDFS-class publish: stage to a temp name, rename into place. The
  * HDFS FileSystem contract makes rename-onto-existing fail atomically
  * under the namenode lock, and the destination appears with its
  * complete content (no create-then-write torn window). This impl is
  * ONLY correct on filesystems honoring that contract — it is never
  * selected for `file://` (POSIX rename replaces) and must not be used
  * on object stores (rename is client-side copy+delete); those plug a
  * native conditional-put via [[LogStore.ConfKey]].
  */
private[graft] final class RenameLogStore(fs: FileSystem) extends LogStore {
  def putIfAbsent(dst: Path, content: Array[Byte]): Boolean = {
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    LogStore.write(fs, tmp, content)
    try { if (fs.exists(dst)) false else fs.rename(tmp, dst) }
    finally fs.delete(tmp, false): Unit
  }
}
