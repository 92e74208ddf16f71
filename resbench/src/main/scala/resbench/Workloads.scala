package resbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{IngestStats, MatchKeyConfig, Reservoir}
import graft.marc.MarcXml
import graft.sources.MarcSources
import graft.storage.{Catalog, CorpusStore}

/** What every workload hands back to [[Main]]. */
final class Outcome {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val notes = mutable.ArrayBuffer.empty[String]
  /** (op, wall seconds, records) of every timed call, in completion order */
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Long)]()
  var setupS = 0.0
  var userBytes = 0L
  var catalogRoot: Path = _
  var micro: Map[String, Double] = Map.empty

  /** a named condition inside an op: noted when false, failed by its op */
  def check(what: String)(ok: Boolean): Boolean = {
    if (!ok) notes.synchronized(notes += s"check failed: $what")
    ok
  }

  /** one op: counted as attempted, failed when it throws or its check fails */
  def op(what: String)(body: => Boolean): Unit = {
    attempted.incrementAndGet()
    val ok = try body catch {
      case e: Exception =>
        notes.synchronized(notes += s"$what threw: $e"); false
    }
    if (!ok) {
      failed.incrementAndGet()
      notes.synchronized(notes += s"$what failed its check")
    }
  }
}

/** Shared run context. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Double, val shape: Map[String, Double], val tracer: Tracer,
    val out: Outcome) {
  def int(k: String): Int = shape(k).toInt

  /** how many times a run repeats its measured unit: set by `--seconds`
    * and the unit's nominal wall (`key`), never by how fast the program
    * runs, so two commits measured with one `--seconds` do the same work
    */
  def units(key: String): Int = math.max(1, math.round(seconds / shape(key)).toInt)

  /** one timed call */
  def timed[T](op: String, records: Long, userBytes: Long = 0L)(f: => T)(
      rows: T => Long): (T, Span) = {
    val (res, s) = tracer.span(op, userBytes)(f)(rows)
    out.ops.add((op, s.wall, records))
    (res, s)
  }
}

object Workloads {
  /** the one match-key pool: ISSNs by JSONPath over the 022 fields */
  val Pool = "issn"
  val IssnPath = "jsonpath:$.marc.fields[*].022.subfields[*].a"

  /** the batch frame exactly as the program's sources read the three files */
  def frameOf(spark: SparkSession, b: MarcBatch): DataFrame = {
    def gr(p: Path, binary: Boolean, src: String) =
      MarcSources.toGlobalRecords(spark, p.toString, binary, src, 1).toDF()
        .select("localId", "sourceId", "sourceVersion", "payloadJson", "delete")
    gr(b.iso, binary = true, b.sources._1)
      .unionByName(gr(b.xml, binary = false, b.sources._2))
      .unionByName(MarcSources.readRecordsJson(spark, b.json.toString))
  }

  def statsMatch(o: Outcome, b: MarcBatch, s: IngestStats): Boolean =
    o.check(s"batch ${b.index} IngestStats $s") {
      s == IngestStats(b.processed, b.upserts.size, 0L, b.deletes.size, 0L)
    }

  /** a cluster document's members as `SOURCE/localId` ids */
  private def memberIds =
    transform(col("records"), x => concat(x("sourceId"), lit("/"), x("localId")))

  /** cluster members a CQL lookup in the pool returned: clusterId -> member ids */
  def lookup(r: Reservoir, cql: String): Map[String, Set[String]] =
    r.clusters(Pool, cql).select(col("clusterId"), memberIds)
      .collect().map(x => x.getString(0) -> x.getSeq[String](1).toSet).toMap

  /** the members listed in a cluster's rendered MARCXML (999 $s/$l) and its 001 */
  def renderedMembers(xml: String): (Set[String], Option[String]) = {
    val rec = MarcXml.parseCollection(xml).head
    val f999 = rec.fieldsWithTag("999").lastOption.toSeq.flatMap(_.subfields)
    val ls = f999.filter(_.code == "l").map(_.value)
    val ss = f999.filter(_.code == "s").map(_.value)
    (ss.zip(ls).map { case (s, l) => s + "/" + l }.toSet,
      rec.firstValue("001", None))
  }

  /** the run's set-up of the store under `root`, timed */
  private def setUp[T](c: Ctx, root: Path)(mk: => T): T = {
    val t0 = System.nanoTime()
    val v = mk
    c.out.setupS = (System.nanoTime() - t0) / 1e9
    c.out.catalogRoot = root
    c.tracer.root = Some(root)
    v
  }

  private def localOf(id: String) = id.dropWhile(_ != '/').tail

  /** the 001 a rendered cluster carries: its first member by (source, localId) */
  private def headOf(ids: Set[String]) =
    localOf(ids.minBy(id => (id.takeWhile(_ != '/'), id)))

  // ------------------------------------------------------------ ingest-merge

  def ingestMerge(c: Ctx): Unit = {
    val spark = c.spark
    val o = c.out
    val in = new Inputs
    // one generator feeds the run and holds, in its key graph, the
    // clusters the program must report after each batch it has made
    val gen = new MarcGen(c.seed, MarcShape(c.int("records_per_batch"),
      c.shape("entries_per_bib"), c.shape("bridge"), c.shape("delete_share"),
      c.int("note_words")), c.work.resolve("in"), in)
    // the store's holdings before the run, from the batches' own sources
    val preload = gen.batch(0, c.int("preload_records"))

    val root = c.work.resolve("cat")
    val (r, preloaded) = setUp(c, root) {
      val r = new Reservoir(spark, root.toString, "bench")
      r.putMatchKeyConfig(MatchKeyConfig(Pool, IssnPath))
      (r, r.ingest(frameOf(spark, preload)))
    }
    o.op("preload ingest")(statsMatch(o, preload, preloaded))
    o.userBytes = preload.bytes

    val batches = (0 until c.units("batch_seconds")).map { i =>
      val b = gen.batch(1 + i)
      o.op(s"ingest batch ${b.index}") {
        val (s, _) = c.timed("ingest", b.processed, b.bytes) {
          r.ingest(frameOf(spark, b))
        }(_.processed)
        o.userBytes += b.bytes
        statsMatch(o, b, s)
      }
      b
    }
    // CQL lookups of two records of the last batch check the incremental
    // result: each by localId, and the first also by one of its ISSNs and
    // then by the clusterId found alone
    val pick = new java.util.SplittableRandom(c.seed + 7)
    def cqlLookup(cql: String, want: Set[String]): Option[String] = {
      var found: Option[String] = None
      o.op(s"cql_lookup $cql") {
        val (got, _) = c.timed("cql_lookup", 1)(lookup(r, cql))(_.size.toLong)
        found = got.keys.headOption
        got.values.toSeq == Seq(want)
      }
      found
    }
    Seq.fill(2)(batches.last.upserts(pick.nextInt(batches.last.upserts.size)))
      .zipWithIndex.foreach { case (target, k) =>
        val want = gen.issnGraph.componentOf(target.id, gen.liveIds)
        cqlLookup(s"""localId = "${target.localId}"""", want)
        if (k == 0) cqlLookup(s"""matchValue = "${target.issns.head}"""", want)
          .foreach(cid => cqlLookup(s"""clusterId = "$cid"""", want))
      }
    println(s"[resbench] input sha256/64: ${in.digest} (${in.userBytes} bytes: " +
      s"${preload.processed} records preloaded, then ${batches.size} " +
      s"batches of ${c.int("records_per_batch")})")
    // the whole pool against the benchmark's union-find, as one pinned
    // ListRecords page, which must hold it all (distinct items, no
    // resumptionToken), each item rendering its members; then GetRecord of
    // a cluster on the page
    var listed = Seq.empty[(String, Set[String])]
    o.op("list_page") {
      val (page, _) = c.timed("list_page", 1000) {
        r.listRecords(Pool, limit = 1000, pinSnapshot = true)
      }(_.items.size.toLong)
      listed = page.items.flatMap(it => it.metadataXml.map(x =>
        it.clusterId -> renderedMembers(x)._1))
      val ids = page.items.map(_.clusterId)
      ids.distinct.size == ids.size && page.resumptionToken.isEmpty &&
        listed.size == listed.map(_._2).distinct.size &&
        listed.map(_._2).toSet == gen.issnGraph.clusters(gen.liveIds)
    }
    if (listed.nonEmpty) o.op("get_record") {
      val (cid, members) = listed(pick.nextInt(listed.size))
      val (item, _) = c.timed("get_record", 1) {
        r.getOaiRecord(Pool, cid)
      }(_.size.toLong)
      item.flatMap(_.metadataXml).exists(renderedMembers(_) == (members, Some(headOf(members))))
    }
    if (c.tracer.traced) {
      val (cid, _) = listed.head
      o.micro = Micro.marc(batches, Nil) ++
        Micro.clusterReplay(spark, preload.upserts +: batches.map(_.upserts)) +
        ("trace.overhead_frac" -> c.tracer.overhead(c.int("overhead_pairs")) {
          lookup(r, s"""clusterId = "$cid"""")
        })
    }
  }

  // ------------------------------------------------------------ corpus-store

  def corpusStore(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val o = c.out
    val in = new Inputs
    val shape = CorpusShape(c.int("docs"), c.int("sources"), c.int("words"),
      c.int("shared_passages"), c.int("batch_docs"))
    val docs = CorpusGen.docs(c.seed, shape, in)
    println(s"[resbench] input sha256/64: ${in.digest} (${in.userBytes} bytes)")
    val docsDf = docs.toDF("doc_id", "source", "text").persist()
    docsDf.count()
    val (w, bk) = (8, c.int("buckets"))
    val schema = CorpusStore.storedSchema("doc_id", "source", "text")
    val root = c.work.resolve("cat")
    val cat = setUp(c, root) {
      val cat = new Catalog(spark, root.toString, "bench")
      CorpusStore.writeDeduped(cat, "c", docsDf, "doc_id", "text", "source",
        winnowW = w, buckets = bk)
      cat
    }
    o.userBytes = in.userBytes
    val B = shape.batchDocs
    val src1 = cat.readPartitionedOr("c", schema).filter(col("source") === "src1")
      .select("doc_id").orderBy("doc_id").as[Long].collect().toIndexedSeq
    o.op("src1 holds a batch")(src1.size >= B)
    val kinds = Seq("dup", "fresh", "hot")
    var batchId = 0L
    // whole dup/fresh/hot rotations
    for (round <- 0 until c.units("rotation_seconds"); kind <- kinds) {
      val window = (0 until B).map(j => src1((round * B + j) % src1.size))
      val stored = cat.readPartitionedOr("c", schema)
        .filter(col("doc_id").isin(window: _*))
      val off = round * 1000000L
      // batches built as the store's own soak tool builds them
      val batch = (kind match {
        case "dup" => stored.select((col("doc_id") + 10000000L + off).as("doc_id"),
          lit("soak_dup").as("source"),
          concat(lit("zq"), col("doc_id").cast("string"), lit(s"a r$round zq"),
            col("doc_id").cast("string"), lit("b "), col("text")).as("text"))
        case "fresh" => spark.range(B).select(
          (col("id") + 20000000L + off).as("doc_id"), lit("soak_fresh").as("source"),
          concat_ws(" ", (0 until 120).map(j =>
            concat(lit(s"w$j"), pmod(col("id") * 37 + j * 101 + round * 7919,
              lit(99991)).cast("string"))): _*).as("text"))
        case _ => stored.select(col("doc_id"), lit("src1").as("source"),
          concat(lit("hotswap"), col("doc_id").cast("string"), lit(" "),
            col("text")).as("text"))
      }).persist()
      val want = batch.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      val bytes = want.values.map(_.getBytes("UTF-8").length.toLong).sum
      batchId += 1
      o.op(s"store $kind $batchId") {
        val (v, span) = c.timed("store", want.size.toLong, bytes) {
          CorpusStore.ingestBatch(cat, "c", batch, batchId, "doc_id", "text",
            "source", winnowW = w, buckets = bk)
        }(_ => want.size.toLong)
        o.userBytes += bytes
        c.tracer.listener.quiesce()
        // the listener and the status tracker must see the same jobs
        val tracked = spark.sparkContext.statusTracker.getJobIdsForGroup(span.id).length
        val listened = c.tracer.listener.jobsOf(span.id).size
        val jobsSeen = o.check(s"store $kind listener jobs $listened == status jobs $tracked")(
          listened == tracked)
        // point reads of the committed version, one per slice of the batch
        // ids, each checked against what its kind must have left behind
        val k = c.int("reads_per_batch")
        val slices = want.keys.toSeq.sorted.grouped(math.max(1, (want.size + k - 1) / k)).toSeq
        jobsSeen && slices.map { ids =>
          val (rows, _) = c.timed("version_read", ids.size.toLong) {
            CorpusStore.readVersion(cat, "c", v, "doc_id", "source", "text")
              .filter(col("doc_id").isin(ids: _*))
              .select("doc_id", "text").collect()
          }(_.length.toLong)
          val got = rows.groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSeq }
          kind match {
            case "fresh" => got == ids.map(k => k -> Seq(want(k))).toMap
            case "dup" => got.keySet == ids.toSet && got.forall { case (k, ts) =>
              ts.size == 1 && ts.head.length < want(k).length / 2 }
            case _ => ids.forall(k => got.get(k).exists(ts =>
              ts.size == 1 && ts.head.startsWith(s"hotswap$k ")))
          }
        }.forall(identity)
      }
      batch.unpersist()
    }
    o.op("hot ids stay one row each") {
      cat.readPartitionedOr("c", schema).groupBy("doc_id").count()
        .filter(col("count") > 1).isEmpty
    }
    if (c.tracer.traced) {
      val one = spark.range(B).select((col("id") + 30000000L).as("doc_id"),
        lit("probe").as("source"), concat_ws(" ", (0 until 80).map(j =>
          concat(lit(s"p$j"), (col("id") * 13 + j).cast("string"))): _*).as("text"))
      val sample = new MarcGen(c.seed, MarcShape.sample, c.work.resolve("in"),
        new Inputs(writeFiles = false))
      val probeIds = src1.take(B)
      o.micro = Micro.probe(cat, one, bk) ++
        Micro.marc(Nil, sample.batch(0).upserts) +
        ("trace.overhead_frac" -> c.tracer.overhead(c.int("overhead_pairs")) {
          cat.readPartitionedOr("c", schema).filter(col("doc_id").isin(probeIds: _*)).count()
        })
    }
  }
}
