package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** One table's declared definition: the table descriptor, kept in one
  * root file beside the commit log. It holds what is declared before the
  * first commit or by DDL that publishes no version, so it cannot ride a
  * manifest; everything versioned stays in the manifest headers.
  *
  * @param schema     declared schema (CREATE TABLE / ALTER TABLE), logical
  *                   names with their [[ColumnMapping]] physical names
  * @param partCols   identity partition columns (`PARTITIONED BY (c)`)
  * @param transforms declared hidden-partition transforms — a write-behind
  *                   copy: the head manifest's `#ptspec:` header, when
  *                   present, is the spec of record
  * @param props      `TBLPROPERTIES`
  * @param dropped    physical names ever dropped; never bound again
  * @param seq        next suffix for a fresh physical name
  * @param widened    an `ALTER COLUMN ... TYPE` widened a column: library
  *                   reads pass the declared schema instead of merging
  *                   footers (old files keep their narrow types)
  */
private[graft] final case class TableMeta(
    schema: Option[StructType] = None,
    partCols: Seq[String] = Nil,
    transforms: Seq[PartitionTransform] = Nil,
    props: Map[String, String] = Map.empty,
    dropped: Set[String] = Set.empty,
    seq: Int = 0,
    widened: Boolean = false) {

  /** Physical read schema of a widened table; None on never-widened
    * tables, whose reads stay on the mergeSchema path.
    */
  def widenedReadSchema: Option[StructType] =
    if (widened) schema.map(ColumnMapping.physicalSchema) else None

  private def json: String = compact(render(JObject(
    "schema" -> schema.fold[JValue](JNull)(s => parse(s.json)),
    "partition" -> JArray(partCols.map(JString(_)).toList),
    "transforms" -> TableMeta.transformsJson(transforms),
    "props" -> JObject(props.toList.sortBy(_._1).map { case (k, v) => k -> JString(v) }),
    "dropped" -> JArray(dropped.toList.sorted.map(JString(_))),
    "seq" -> JInt(seq),
    "widened" -> JBool(widened))))
}

private[graft] object TableMeta {
  private val FileName = "_table.json"

  private def file(root: String): Path = new Path(root, FileName)

  /** The descriptor under `root`; a missing file is the empty descriptor. */
  def read(fs: FileSystem, root: String): TableMeta =
    try fromJson(parse(LogStore.readString(fs, file(root))))
    catch { case _: java.io.FileNotFoundException => TableMeta() }

  /** One read-modify-write of the descriptor under `root`: serialized per
    * root within this JVM ([[CommitLog.sidecarLock]]) and published by
    * atomic replace, so a reader sees the whole old or the whole new
    * definition. Returns what was written.
    */
  def update(fs: FileSystem, root: String)(f: TableMeta => TableMeta): TableMeta =
    CommitLog.sidecarLock(fs.makeQualified(new Path(root)).toString).synchronized {
      val next = f(read(fs, root))
      LogStore.writeAtomic(fs, file(root), next.json.getBytes(StandardCharsets.UTF_8))
      next
    }

  /** Copy the descriptor from `srcRoot` to `dstRoot` whole, so a replica
    * or clone reads and evolves exactly like its source. A source without
    * one leaves the target untouched.
    */
  def copy(spark: SparkSession, srcRoot: String, dstRoot: String): Unit = {
    val (srcFs, dstFs) = (HadoopFs.fs(spark, srcRoot), HadoopFs.fs(spark, dstRoot))
    val bytes =
      try LogStore.readBytes(srcFs, file(srcRoot))
      catch { case _: java.io.FileNotFoundException => return }
    CommitLog.sidecarLock(dstFs.makeQualified(new Path(dstRoot)).toString).synchronized {
      LogStore.writeAtomic(dstFs, file(dstRoot), bytes)
    }
  }

  private def fromJson(j: JValue): TableMeta = {
    def strings(k: String): List[String] = j \ k match {
      case JArray(vs) => vs.collect { case JString(s) => s }
      case _ => Nil
    }
    TableMeta(
      schema = j \ "schema" match {
        case o: JObject => Some(DataType.fromJson(compact(render(o))).asInstanceOf[StructType])
        case _ => None
      },
      partCols = strings("partition"),
      transforms = transformsOf(j \ "transforms"),
      props = j \ "props" match {
        case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty
      },
      dropped = strings("dropped").toSet,
      seq = j \ "seq" match {
        case JInt(n) => n.toInt
        case _ => 0
      },
      widened = j \ "widened" == JBool(true))
  }

  /** The JSON form of a transform list — shared by the descriptor and the
    * manifest's `#ptspec:` header.
    */
  private[catalog] def transformsJson(ts: Seq[PartitionTransform]): JValue =
    JArray(ts.map(t => JObject("kind" -> JString(t.kind), "src" -> JString(t.src),
      "srcType" -> JString(t.srcType), "arg" -> JInt(t.arg))).toList)

  private[catalog] def transformsOf(j: JValue): Seq[PartitionTransform] = j match {
    case JArray(items) => items.map { t =>
      implicit val fmt: Formats = DefaultFormats
      PartitionTransform((t \ "kind").extract[String], (t \ "src").extract[String],
        (t \ "srcType").extract[String], (t \ "arg").extract[Long])
    }
    case _ => Nil
  }
}
