package graft.catalog

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse => parseJson, render}

/** One version's manifest (`_commits/NNNNNNNN.manifest`) as typed lines:
  * the one owner of the manifest format. A manifest lists exactly the
  * pool files of one snapshot, one line each, plus `#`-prefixed headers:
  *
  *  - `<name>[\t<stats>]`: a data file ([[Manifest.Entry]]). The name is
  *    relative to `data/` (it may carry hive `c=v/` subdirs), or absolute
  *    for a shallow-clone reference into another table's pool. The
  *    optional stats are compact JSON: `_n` rows, `_b` bytes and per-column
  *    `{"t","mn","mx"}` footer bounds;
  *  - `-<name>[\t<stats>]`: a merge-on-read deletion-vector file of
  *    (data-file leaf, row-position) tombstones;
  *  - `#<key>:<value>`: a header ([[Manifest.Header]]). Pool names are
  *    uuid-derived and never start with `#` or `-`, so the prefixes are
  *    unambiguous.
  *
  * Header kinds, by what happens to them when a version is rewritten:
  *  - lineage ([[Manifest.Lineage]]) survives every rewrite of the table:
  *    `#txn:<id>` applied-batch memory (exactly-once redelivery) and
  *    `#gen:<n>` the failover generation (the fencing token);
  *  - contracts ([[Manifest.Contracts]]) describe the snapshot: replaces
  *    carry them, clones fork them, restore reverts them with the data —
  *    `#check:{name: sql}` CHECK constraints, `#cluster:[cols]` declared
  *    clustering, `#ttl:{"col","ms"}` the TTL policy, `#schema:<json>` the
  *    evolved schema of record, `#ptspec:[transforms]` the hidden-partition
  *    spec of record;
  *  - per-commit headers ([[Manifest.PerCommit]]) describe one version and
  *    are re-declared by each operation that needs them: `#op:<name>` the
  *    publishing operation, `#clone:<root>@<v>` clone provenance,
  *    `#xtxn:<id>\t<decision>` a pending cross-table transaction,
  *    `#partition:[cols]` the hive layout, and the replication cursor
  *    ([[Manifest.Sync]]) `#repsrc:<v>`, `#repmap:<lo>-<hi>`,
  *    `#reproot:<root>`.
  *
  * Appends and incremental rewrites (compaction, row-level CoW and MoR
  * ops) keep the head's lines and edit only the entries they touch, so
  * every header rides along; `commit`'s caller-keyed headers (e.g. a
  * materialized view's `#mvsrc:` cursor) are per-commit too.
  *
  * Rendering keeps line order, and `Manifest.parse(lines).lines == lines`
  * for every well-formed line, so a rewrite that edits nothing reproduces
  * the bytes it read.
  */
private[catalog] final case class Manifest(items: Seq[Manifest.Line]) {
  import Manifest._

  /** The manifest's text lines, in order. */
  def lines: Seq[String] = items.map(_.text)

  /** Data and deletion-vector entries, in manifest order. */
  def entries: Seq[Entry] = items.collect { case e: Entry => e }
  lazy val data: Seq[Entry] = entries.filterNot(_.dv)
  lazy val dvs: Seq[Entry] = entries.filter(_.dv)
  def dataNames: Seq[String] = data.map(_.name)
  /** The data entries named by `names`, in that order. */
  def dataEntries(names: Seq[String]): Seq[Entry] = {
    val byName = data.iterator.map(e => e.name -> e).toMap
    names.map(byName)
  }
  def dvNames: Seq[String] = dvs.map(_.name)

  /** Per-file column bounds of the data entries that carry stats. */
  def fileStats: Map[String, Map[String, ColStats]] =
    data.iterator.filter(_.stats.isDefined).map(e => e.name -> e.colStats).toMap

  private def headers: Iterator[Header] = items.iterator.collect { case h: Header => h }

  /** The first `#<key>:` header's value. */
  def header(key: String): Option[String] = headers.find(_.key == key).map(_.value)
  def has(key: String): Boolean = headers.exists(_.key == key)

  def txns: Seq[String] = headers.filter(_.key == Txn).map(_.value).toSeq
  def hasTxn(id: String): Boolean = headers.exists(h => h.key == Txn && h.value == id)
  def generation: Long = header(Gen).map(_.trim.toLong).getOrElse(0L)
  def op: Option[String] = header(Op)
  def checks: Map[String, String] = header(Check).map(j => parseJson(j) match {
    case JObject(fs) => fs.collect { case (k, JString(s)) => k -> s }.toMap
    case _ => Map.empty[String, String]
  }).getOrElse(Map.empty)
  def clustering: Seq[String] = header(Cluster).map(stringsOf).getOrElse(Nil)
  def partitionColumns: Seq[String] = header(Partition).map(stringsOf).getOrElse(Nil)
  def schema: Option[StructType] =
    header(Schema).map(DataType.fromJson(_).asInstanceOf[StructType])
  def ttl: Option[(String, Long)] = header(Ttl).flatMap(j => parseJson(j) match {
    case JObject(fs) =>
      val m = fs.toMap
      for {
        c <- m.get("col").collect { case JString(s) => s }
        ms <- m.get("ms").collect { case JInt(n) => n.toLong }
      } yield (c, ms)
    case _ => None
  })
  def transforms: Option[Seq[PartitionTransform]] =
    header(Ptspec).map(j => TableMeta.transformsOf(parseJson(j)))
  /** Clone provenance: the source root and version this table forked from. */
  def clonedFrom: Option[(String, Long)] = header(Clone).map { c =>
    val at = c.lastIndexOf('@')
    (c.substring(0, at), c.substring(at + 1).toLong)
  }
  /** The decision-file URI of a pending cross-table transaction. */
  def xtxnDecision: Option[String] = header(XTxn).map(_.split('\t').last)
  /** The source version a replica last synced. */
  def syncedVersion: Option[Long] = header(RepSrc).map(_.toLong)
  /** The source-version window a sync folded, `(lo, hi)`. */
  def syncWindow: Option[(Long, Long)] = header(RepMap).flatMap(_.trim.split('-') match {
    case Array(lo, hi) => Some((lo.toLong, hi.toLong))
    case _ => None
  })
  def syncRoot: Option[String] = header(RepRoot)

  /** `h` in front, replacing every header of its key. */
  def set(h: Header): Manifest = h +: without(h.key)
  def without(keys: String*): Manifest = without(keys.toSet)
  def without(keys: Set[String]): Manifest =
    Manifest(items.filterNot { case h: Header => keys(h.key); case _ => false })
  /** The headers of `keys` alone, in order. */
  def only(keys: Set[String]): Manifest =
    Manifest(items.filter { case h: Header => keys(h.key); case _ => false })
  /** Headers plus the entries `keep` accepts. */
  def filterEntries(keep: Entry => Boolean): Manifest =
    Manifest(items.filter { case e: Entry => keep(e); case _ => true })
  def mapEntries(f: Entry => Entry): Manifest =
    Manifest(items.map { case e: Entry => f(e); case l => l })

  def +:(l: Line): Manifest = Manifest(l +: items)
  def :+(l: Line): Manifest = Manifest(items :+ l)
  def ++(that: Manifest): Manifest = Manifest(items ++ that.items)
  def ++(more: IterableOnce[Line]): Manifest = Manifest(items ++ more)
}

private[catalog] object Manifest {
  val Txn = "txn"
  val Gen = "gen"
  val Check = "check"
  val Cluster = "cluster"
  val Ttl = "ttl"
  val Schema = "schema"
  val Ptspec = "ptspec"
  val Op = "op"
  val Clone = "clone"
  val XTxn = "xtxn"
  val Partition = "partition"
  val RepSrc = "repsrc"
  val RepMap = "repmap"
  val RepRoot = "reproot"

  /** Survives every rewrite of the table. */
  val Lineage: Set[String] = Set(Txn, Gen)
  /** Carried by replaces, forked by clones, reverted by restore. */
  val Contracts: Set[String] = Set(Check, Cluster, Ttl, Schema, Ptspec)
  /** A replica's sync cursor: replaced by each sync, shed by promotion; a
    * restore takes the target's only onto a head that carries one.
    */
  val Sync: Set[String] = Set(RepSrc, RepMap, RepRoot)
  /** Describes one version: replaces and clones drop it, appends keep the
    * head's, restore takes the target's (its [[Sync]] cursor only while the
    * head is a replica).
    */
  val PerCommit: Set[String] = Set(Op, Clone, XTxn, Partition) ++ Sync

  val empty: Manifest = Manifest(Vector.empty)

  /** One manifest line. */
  sealed trait Line { def text: String }

  /** `#<key>:<value>`. */
  final case class Header(key: String, value: String) extends Line {
    def text: String = s"#$key:$value"
  }

  object Header {
    def txn(id: String): Header = Header(Txn, id)
    def gen(g: Long): Header = Header(Gen, g.toString)
    def op(name: String): Header = Header(Op, name)
    def check(cs: Map[String, String]): Header = Header(Check, json(
      JObject(cs.toList.sortBy(_._1).map { case (k, s) => k -> JString(s) })))
    def cluster(cols: Seq[String]): Header = Header(Cluster, strings(cols))
    def partition(cols: Seq[String]): Header = Header(Partition, strings(cols))
    def schema(s: StructType): Header = Header(Schema, s.json)
    def ttl(column: String, retainMs: Long): Header =
      Header(Ttl, json(JObject("col" -> JString(column), "ms" -> JInt(retainMs))))
    def ptspec(ts: Seq[PartitionTransform]): Header =
      Header(Ptspec, json(TableMeta.transformsJson(ts)))
    def xtxn(id: String, decisionUri: String): Header = Header(XTxn, s"$id\t$decisionUri")
    def cloned(srcRoot: String, v: Long): Header = Header(Clone, s"$srcRoot@$v")
    def repsrc(v: Long): Header = Header(RepSrc, v.toString)
    def repmap(lo: Long, hi: Long): Header = Header(RepMap, s"$lo-$hi")
    def reproot(root: String): Header = Header(RepRoot, root)
  }

  /** A data file, or (`dv`) a deletion-vector file, with its optional
    * stats JSON kept verbatim.
    */
  final case class Entry(name: String, stats: Option[String], dv: Boolean = false)
      extends Line {
    def text: String = (if (dv) "-" else "") + stats.fold(name)(name + "\t" + _)
    def absolute: Boolean = isAbsoluteName(name)
    def asDv: Entry = copy(dv = true)

    private lazy val fields: Map[String, JValue] = stats.map(parseJson(_)) match {
      case Some(JObject(fs)) => fs.toMap
      case _ => Map.empty
    }
    private def num(k: String): Option[Long] = fields.get(k).collect { case JInt(n) => n.toLong }
    /** Row count at commit time; None on pre-tag lines. */
    def rows: Option[Long] = num("_n")
    /** File size at commit time; None on pre-tag lines. */
    def bytes: Option[Long] = num("_b")
    /** Per-column footer bounds (`_n`/`_b` are numbers, not objects). */
    def colStats: Map[String, ColStats] = fields.collect { case (c, JObject(f)) =>
      val m = f.toMap
      def str(k: String) = m(k) match {
        case JString(s) => s
        case other      => other.values.toString
      }
      c -> ColStats(str("t"), str("mn"), str("mx"))
    }
  }

  object Entry {
    /** A freshly pooled file: footer bounds plus exact rows and bytes. */
    def pooled(name: String, st: Map[String, ColStats], rows: Long, bytes: Long): Entry = {
      val cols = st.toSeq.sortBy(_._1).map { case (c, s) =>
        JField(c, JObject("t" -> JString(s.tpe), "mn" -> JString(s.min), "mx" -> JString(s.max)))
      }
      Entry(name, Some(json(JObject(
        (JField("_n", JInt(rows)) :: JField("_b", JInt(bytes)) :: cols.toList)))))
    }
  }

  /** Manifest names are `data/`-relative, except shallow-clone references
    * into another table's pool, which are absolute.
    */
  def isAbsoluteName(n: String): Boolean = n.startsWith("/") || n.contains("://")

  def parseLine(l: String): Line =
    if (l.startsWith("#")) {
      val i = l.indexOf(':')
      if (i < 0) Header(l.substring(1), "") else Header(l.substring(1, i), l.substring(i + 1))
    } else {
      val dv = l.startsWith("-")
      val body = if (dv) l.substring(1) else l
      val i = body.indexOf('\t')
      if (i < 0) Entry(body, None, dv) else Entry(body.substring(0, i), Some(body.substring(i + 1)), dv)
    }

  def parse(lines: Seq[String]): Manifest = Manifest(lines.map(parseLine))

  /** A manifest file's content: one line per item, blank lines ignored. */
  def read(text: String): Manifest =
    parse(text.split('\n').toSeq.map(_.trim).filter(_.nonEmpty))

  private def json(j: JValue): String = compact(render(j))
  private def strings(xs: Seq[String]): String = json(JArray(xs.toList.map(JString(_))))
  private def stringsOf(j: String): Seq[String] = parseJson(j) match {
    case JArray(vs) => vs.collect { case JString(s) => s }
    case _ => Nil
  }
}
