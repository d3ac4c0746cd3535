package graft.catalog

import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import Manifest.{Entry, Header}

/** The manifest codec over scalacheck-generated manifests (fixed seeds —
  * deterministic CI): every line kind round-trips byte-identically, and
  * every typed accessor returns what its writer rendered.
  */
class ManifestSpec extends AnyFunSuite {

  /** Deterministic samples from a generator. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.apply(Gen.Parameters.default, Seed(i.toLong)).get)

  private val ident: Gen[String] = for {
    c <- Gen.alphaChar
    rest <- Gen.listOfN(6, Gen.alphaNumChar)
  } yield (c +: rest).mkString

  /** Free text as it reaches JSON-valued headers: quotes, colons, tabs,
    * backslashes and non-ASCII included (JSON escapes them).
    */
  private val text: Gen[String] =
    Gen.listOfN(8, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('"', ':', '\t', '\\', ' ', 'é', '#', '-')))
      .map(_.mkString)

  /** A line value that survives the file's per-line trim. */
  private val token: Gen[String] = for {
    a <- ident
    b <- Gen.oneOf("", ":x", "-1", "@7", "/p:q")
  } yield a + b

  private val colStats: Gen[ColStats] = Gen.oneOf(
    Gen.choose(-1000L, 1000L).flatMap(a => Gen.choose(a, 1000L).map(b =>
      ColStats("long", a.toString, b.toString))),
    Gen.choose(-1.0, 1.0).map(d => ColStats("double", d.toString, (d + 1).toString)),
    for (a <- text; b <- text) yield ColStats("string", a, b))

  private val name: Gen[String] = for {
    leaf <- ident.map(_ + "-part00001.parquet")
    form <- Gen.choose(0, 3)
  } yield form match {
    case 0 => leaf
    case 1 => s"c=${leaf.take(3)}/$leaf"
    case 2 => s"/wh/src/data/$leaf"
    case _ => s"s3a://bucket/src/data/$leaf"
  }

  private case class EntryCase(name: String, stats: Option[(Map[String, ColStats], Long, Long)],
      dv: Boolean) {
    def entry: Entry = stats match {
      case Some((st, rows, bytes)) => Entry.pooled(name, st, rows, bytes).copy(dv = dv)
      case None => Entry(name, None, dv)
    }
  }

  private val entryCase: Gen[EntryCase] = for {
    n <- name
    st <- Gen.option(for {
      cols <- Gen.mapOfN(3, Gen.zip(ident, colStats))
      rows <- Gen.choose(0L, 1000000L)
      bytes <- Gen.choose(0L, 1L << 40)
    } yield (cols, rows, bytes))
    dv <- Gen.oneOf(true, false)
  } yield EntryCase(n, st, dv)

  private val dataType: Gen[DataType] =
    Gen.oneOf(LongType, IntegerType, StringType, DoubleType, DateType, TimestampType,
      DecimalType(12, 2), ArrayType(StringType))

  private val transform: Gen[PartitionTransform] = for {
    kind <- Gen.oneOf("year", "month", "day", "hour", "bucket", "truncate")
    src <- ident
    srcType <- Gen.oneOf("BIGINT", "STRING", "DATE", "TIMESTAMP")
    arg <- if (kind == "bucket" || kind == "truncate") Gen.choose(1L, 64L) else Gen.const(0L)
  } yield PartitionTransform(kind, src, srcType, arg)

  /** One of every header kind, typed. */
  private case class Headers(txns: Seq[String], gen: Long, op: String,
      checks: Map[String, String], cluster: Seq[String], partition: Seq[String],
      schema: StructType, ttl: (String, Long), ptspec: Seq[PartitionTransform],
      xtxn: (String, String), cloned: (String, Long), repsrc: Long,
      repmap: (Long, Long), reproot: String) {
    def rendered: Seq[Header] = txns.map(Header.txn) ++ Seq(
      Header.gen(gen), Header.op(op), Header.check(checks), Header.cluster(cluster),
      Header.partition(partition), Header.schema(schema), Header.ttl(ttl._1, ttl._2),
      Header.ptspec(ptspec), Header.xtxn(xtxn._1, xtxn._2), Header.cloned(cloned._1, cloned._2),
      Header.repsrc(repsrc), Header.repmap(repmap._1, repmap._2), Header.reproot(reproot))
  }

  private val headers: Gen[Headers] = for {
    txns <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, token))
    gen <- Gen.choose(0L, 9L)
    op <- ident
    checks <- Gen.mapOfN(3, Gen.zip(ident, text))
    cluster <- Gen.listOfN(2, ident)
    partition <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, ident))
    fields <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.zip(ident, dataType)))
    ttl <- Gen.zip(ident, Gen.choose(1L, Long.MaxValue))
    ptspec <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, transform))
    xtxn <- Gen.zip(token, token.map("file:/coord/" + _ + ".decision"))
    cloned <- Gen.zip(token.map("/wh/" + _), Gen.choose(1L, 99L))
    repsrc <- Gen.choose(1L, 99L)
    lo <- Gen.choose(1L, 50L)
    hi <- Gen.choose(lo, 99L)
    reproot <- token.map("file:/wh/" + _)
  } yield Headers(txns, gen, op, checks, cluster, partition,
    StructType(fields.distinctBy(_._1).map { case (n, t) => StructField(n, t) }),
    ttl, ptspec, xtxn, cloned, repsrc, (lo, hi), reproot)

  /** `xs` and `ys` merged, each in its own order: `takeX(i)` picks the
    * source of the i-th line while both have lines left.
    */
  private def interleave[A](xs: Seq[A], ys: Seq[A], takeX: Seq[Boolean]): Seq[A] = {
    val (xi, yi) = (xs.iterator, ys.iterator)
    takeX.map(t => if ((t && xi.hasNext) || !yi.hasNext) xi.next() else yi.next())
  }

  /** A manifest: every header kind and some entries, interleaved. */
  private val manifest: Gen[(Headers, Seq[EntryCase], Seq[Manifest.Line])] = for {
    hs <- headers
    es <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, entryCase))
    flags <- Gen.listOfN(hs.rendered.size + es.size, Gen.oneOf(true, false))
  } yield (hs, es, interleave[Manifest.Line](hs.rendered, es.map(_.entry), flags))

  private val cases = samples(manifest, 200)

  test("parse → render is byte-identical for every line kind") {
    for ((_, _, items) <- cases) {
      val lines = items.map(_.text)
      assert(Manifest.parse(lines).lines == lines)
      assert(Manifest.parse(lines).items == items)
      // through the file encoding the manifests are published with
      val bytes = LogStore.lines(lines)
      assert(Manifest.read(new String(bytes, "UTF-8")).lines == lines)
    }
  }

  test("each header accessor returns what its writer rendered") {
    for ((hs, _, items) <- cases) {
      val m = Manifest.parse(items.map(_.text))
      assert(m.txns == hs.txns)
      hs.txns.foreach(id => assert(m.hasTxn(id)))
      assert(!m.hasTxn("never-applied"))
      assert(m.generation == hs.gen)
      assert(m.op.contains(hs.op))
      assert(m.checks == hs.checks)
      assert(m.clustering == hs.cluster)
      assert(m.partitionColumns == hs.partition)
      assert(m.schema.contains(hs.schema))
      assert(m.ttl.contains(hs.ttl))
      assert(m.transforms.contains(hs.ptspec))
      assert(m.xtxnDecision.contains(hs.xtxn._2))
      assert(m.clonedFrom.contains(hs.cloned))
      assert(m.syncedVersion.contains(hs.repsrc))
      assert(m.syncWindow.contains(hs.repmap))
      assert(m.syncRoot.contains(hs.reproot))
    }
  }

  test("entries keep name, kind and stats; rows/bytes/colStats project them") {
    for ((_, es, items) <- cases) {
      val m = Manifest.parse(items.map(_.text))
      assert(m.entries.map(e => (e.name, e.dv)) == es.map(e => (e.name, e.dv)))
      assert(m.dataNames == es.filterNot(_.dv).map(_.name))
      assert(m.dvNames == es.filter(_.dv).map(_.name))
      for ((e, c) <- m.entries.zip(es)) {
        assert(e.absolute == (c.name.startsWith("/") || c.name.contains("://")))
        assert(e.rows == c.stats.map(_._2))
        assert(e.bytes == c.stats.map(_._3))
        assert(e.colStats == c.stats.map(_._1).getOrElse(Map.empty))
      }
      assert(m.fileStats == es.filterNot(_.dv).collect {
        case EntryCase(n, Some((st, _, _)), _) => n -> st
      }.toMap)
    }
  }

  test("edits: set, without, only and filterEntries keep everything else in order") {
    for ((hs, _, items) <- cases) {
      val m = Manifest(items)
      val reset = m.set(Header.gen(hs.gen + 1))
      assert(reset.lines.head == s"#gen:${hs.gen + 1}")
      assert(reset.lines.tail == m.without(Manifest.Gen).lines)
      assert(m.only(Manifest.Lineage).lines ==
        items.collect { case h: Header if Manifest.Lineage(h.key) => h.text })
      assert(m.without(Manifest.Contracts).items ==
        items.filter { case h: Header => !Manifest.Contracts(h.key); case _ => true })
      assert(m.filterEntries(_.dv).items ==
        items.filter { case e: Entry => e.dv; case _ => true })
    }
  }

  test("the carry classes cover every header kind exactly once") {
    val M = Manifest
    assert(M.Lineage == Set(M.Txn, M.Gen))
    assert(M.Contracts == Set(M.Check, M.Cluster, M.Ttl, M.Schema, M.Ptspec))
    assert(M.PerCommit == Set(M.Op, M.Clone, M.XTxn, M.Partition, M.RepSrc, M.RepMap, M.RepRoot))
    assert(M.Sync.subsetOf(M.PerCommit))
    val all = Seq(M.Lineage, M.Contracts, M.PerCommit)
    assert(all.map(_.size).sum == all.reduce(_ ++ _).size)
    assert(all.reduce(_ ++ _).size == 14)
  }

  test("hand-written fixture lines parse as their kind") {
    val m = Manifest.parse(Seq("#partition:[\"v\"]", "a.parquet",
      "-dv.parquet\t{\"_n\":3,\"_b\":10}", "#mvsrc:7"))
    assert(m.partitionColumns == Seq("v"))
    assert(m.dataNames == Seq("a.parquet") && m.data.head.stats.isEmpty)
    assert(m.dvs.map(e => (e.name, e.rows, e.bytes)) == Seq(("dv.parquet", Some(3L), Some(10L))))
    assert(m.header("mvsrc").contains("7"))
  }
}
