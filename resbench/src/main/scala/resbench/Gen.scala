package resbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

import graft.marc.{Indicator, Iso2709, MarcField, MarcJson, MarcRecord, MarcXml, Subfield}

/** Seeded input generator. Everything a run feeds the program comes from
  * here, as files on disk or as small frames built from these values, and
  * every byte written is folded into [[Inputs.digest]] so two runs of one
  * seed show they were fed identical inputs.
  */
final class Inputs(writeFiles: Boolean = true) {
  private val md = MessageDigest.getInstance("SHA-256")
  var userBytes = 0L

  def add(bytes: Array[Byte]): Array[Byte] = {
    md.update(bytes); userBytes += bytes.length; bytes
  }

  def write(path: Path, bytes: Array[Byte]): Path = {
    add(bytes)
    if (writeFiles) {
      Files.createDirectories(path.getParent)
      Files.write(path, bytes)
    }
    path
  }

  def digest: String = md.clone().asInstanceOf[MessageDigest].digest()
    .take(8).map(b => f"${b & 0xff}%02x").mkString
}

/** Shape parameters of the MARC workload (`workloads.json`). */
final case class MarcShape(
    recordsPerBatch: Int,  // records per batch, split over the three formats
    entriesPerBib: Double, // mean records per bibliographic work
    bridge: Double,        // share of records carrying a second work's ISSN
    deleteShare: Double,   // share of a batch that deletes an earlier record
    noteWords: Int)        // words of 500 $a notes: the record-size knob

object MarcShape {
  /** a small merge-heavy sample for timing pure functions off the MARC path */
  val sample = MarcShape(150, 3.0, 0.1, 0.0, 40)
}

/** One generated bib: its source, its MARC, and the ISSNs the pool must
  * extract from it.
  */
final case class Rec(source: String, localId: String, marc: MarcRecord,
    issns: Seq[String]) {
  def id: String = source + "/" + localId
  def payload: String = "{\"marc\":" + MarcJson.toJson(marc) + "}"
}

/** The three files of one batch plus what the program must report for it. */
final case class MarcBatch(index: Int, iso: Path, xml: Path, json: Path,
    sources: (String, String, String), upserts: Seq[Rec], deletes: Seq[Rec]) {
  def processed: Long = upserts.size + deletes.size
  def bytes: Long = Seq(iso, xml, json).map(p => java.nio.file.Files.size(p)).sum
}

/** Union-find over record ids with string keys: the benchmark's own model of
  * the cluster layer. Values are never garbage-collected by the program, so
  * a deleted record keeps joining its keys; membership is read over live
  * records only.
  */
final class KeyGraph {
  private val parent = mutable.HashMap.empty[String, String]
  private val keyOwner = mutable.HashMap.empty[String, String]

  def find(x: String): String = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  def add(id: String, keys: Seq[String]): Unit = {
    parent.getOrElseUpdate(id, id)
    keys.distinct.foreach { k =>
      keyOwner.get(k) match {
        case Some(o) =>
          val (a, b) = (find(o), find(id))
          if (a != b) parent(a) = b
        case None => keyOwner(k) = id
      }
    }
  }

  /** live members of every component with at least one live member */
  def clusters(live: collection.Set[String]): Set[Set[String]] =
    live.toSeq.groupBy(find).values.map(_.toSet).toSet

  def componentOf(id: String, live: collection.Set[String]): Set[String] = {
    val r = find(id)
    live.filter(find(_) == r).toSet
  }
}

/** MARC generator with PALCI-shaped key overlap: records fold into works
  * (same title, author, year, pages, publisher, so one GoldRush key), each
  * work owns an ISSN, and a share of records carries a second work's ISSN,
  * which bridges ISSN clusters across works, sources and batches. A record
  * re-uses a work drawn uniformly from every work made so far, so a batch
  * merges into the store in proportion to the store's size.
  */
final class MarcGen(seed: Long, shape: MarcShape, dir: Path, in: Inputs,
    srcs: (String, String, String) = ("ISO-A", "XML-A", "JSON-A")) {
  private val rnd = new SplittableRandom(seed)
  private val syll = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "vo",
    "ba", "de", "fi", "gu", "ho", "ju", "pe", "qu", "sa", "ti", "wu", "ze")

  private def word(): String =
    (0 until 2 + rnd.nextInt(3)).map(_ => syll(rnd.nextInt(syll.length))).mkString

  private def words(n: Int): String = (0 until n).map(_ => word()).mkString(" ")

  final case class Work(title: String, sub: String, author: String,
      publisher: String, year: Int, pages: Int, issn: String)

  private val works = mutable.ArrayBuffer.empty[Work]
  private var nextLocal = 0
  private var nextIssn = 1000000
  /** live records by id, in ingest order */
  private val live = mutable.LinkedHashMap.empty[String, Rec]
  val issnGraph = new KeyGraph

  def liveIds: collection.Set[String] = live.keySet

  private def newWork(): Work = {
    nextIssn += 1 + rnd.nextInt(7)
    val w = Work(words(3 + rnd.nextInt(4)), words(2), words(2),
      words(2), 1950 + rnd.nextInt(70), 50 + rnd.nextInt(900),
      f"${nextIssn / 10000}%04d-${nextIssn % 10000}%04d")
    works += w
    w
  }

  private def pickWork(): Work =
    if (works.nonEmpty && rnd.nextDouble() >= 1.0 / shape.entriesPerBib)
      works(rnd.nextInt(works.size))
    else newWork()

  private def sf(tag: String, subs: (String, String)*): MarcField =
    MarcField(tag, None, Seq(Indicator("ind1", " "), Indicator("ind2", " ")),
      subs.map { case (c, v) => Subfield(c, v) })

  private def bib(localId: String, w: Work, issns: Seq[String]): MarcRecord =
    MarcRecord(Some("00000nam a2200000 a 4500"), Seq(
      MarcField("001", Some(localId), Nil, Nil),
      MarcField("008", Some(f"000101s${w.year}%04d    xx            000 0 eng d"),
        Nil, Nil)) ++
      issns.map(i => sf("022", "a" -> i)) ++ Seq(
      sf("100", "a" -> w.author),
      sf("245", "a" -> w.title, "b" -> w.sub),
      sf("260", "b" -> w.publisher, "c" -> w.year.toString),
      sf("300", "a" -> s"${w.pages} p."),
      sf("500", "a" -> words(shape.noteWords))))

  private def deleted(r: Rec): MarcRecord =
    MarcRecord(Some("00000dam a2200000 a 4500"),
      Seq(MarcField("001", Some(r.localId), Nil, Nil)))

  private def newRec(source: String): Rec = {
    val w = pickWork()
    val extra =
      if (works.size > 1 && rnd.nextDouble() < shape.bridge)
        Seq(works(rnd.nextInt(works.size)).issn).filter(_ != w.issn)
      else Nil
    nextLocal += 1
    val localId = f"L$nextLocal%07d"
    val m = bib(localId, w, w.issn +: extra)
    Rec(source, localId, m, w.issn +: extra)
  }

  /** Generate batch `index` over the three sources (ISO 2709, MARCXML, JSON
    * envelope), folding its keys into the key graph.
    */
  def batch(index: Int, records: Int = shape.recordsPerBatch): MarcBatch = {
    val n = records / 3
    val perSrc = Seq(srcs._1, srcs._2, srcs._3).map { s =>
      val olds = live.values.filter(_.source == s).toIndexedSeq
      val nDel = math.min(olds.size, math.round(n * shape.deleteShare).toInt)
      val dels = mutable.LinkedHashSet.empty[Rec]
      while (dels.size < nDel) dels += olds(rnd.nextInt(olds.size))
      (s, (0 until n - nDel).map(_ => newRec(s)), dels.toSeq)
    }
    val base = dir.resolve(f"batch-$index%03d")
    // deletes sit at a seeded position among the file's bibs
    def marcOf(s: String): Seq[MarcRecord] = perSrc.find(_._1 == s).get match {
      case (_, fresh, dels) =>
        val body = fresh.map(_.marc)
        val (a, b) = body.splitAt(if (body.isEmpty) 0 else rnd.nextInt(body.size))
        a ++ dels.map(deleted) ++ b
    }
    val iso = in.write(base.resolve("iso/part.mrc"),
      marcOf(srcs._1).flatMap(Iso2709.write(_).toSeq).toArray)
    val xml = in.write(base.resolve("xml/part.xml"),
      MarcXml.toCollectionXml(marcOf(srcs._2)).getBytes(UTF_8))
    val (_, jf, jd) = perSrc.find(_._1 == srcs._3).get
    val jsonRecs = jf.map(r =>
      s"""{"localId":"${r.localId}","payload":${r.payload}}""") ++
      jd.map(r => s"""{"localId":"${r.localId}","delete":true}""")
    val json = in.write(base.resolve("json/part.json"),
      s"""{"sourceId":"${srcs._3}","sourceVersion":1,"records":[${jsonRecs.mkString(",")}]}"""
        .getBytes(UTF_8))
    perSrc.foreach { case (_, fresh, ds) =>
      fresh.foreach { r =>
        live(r.id) = r
        issnGraph.add(r.id, r.issns)
      }
      ds.foreach(r => live.remove(r.id))
    }
    MarcBatch(index, iso, xml, json, srcs, perSrc.flatMap(_._2), perSrc.flatMap(_._3))
  }
}

/** Shape parameters of the corpus-store workload. */
final case class CorpusShape(docs: Int, sources: Int, words: Int,
    sharedPassages: Int, batchDocs: Int)

/** Word-salad documents with shared passages across sources, so the store's
  * substring dedup has stripping work at write time.
  */
object CorpusGen {
  def docs(seed: Long, s: CorpusShape, in: Inputs): Seq[(Long, String, String)] = {
    val rnd = new SplittableRandom(seed)
    def w(): String = "t" + Integer.toString(rnd.nextInt(200000), 36)
    val passages = IndexedSeq.fill(s.sharedPassages)(Seq.fill(60)(w()).mkString(" "))
    (0 until s.docs).map { i =>
      val own = Seq.fill(s.words)(w()).mkString(" ")
      val text =
        if (i % 4 == 0) own + " " + passages(rnd.nextInt(passages.size)) else own
      in.add(text.getBytes(UTF_8))
      (i.toLong, s"src${i % s.sources}", text)
    }
  }
}
