package resbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.cluster.{ClusterState, Clusterize}
import graft.cql.Cql
import graft.functions.{GoldRush, JsonPathLite}
import graft.marc.{Iso2709, MarcJson, MarcXml}
import graft.model.IngestMapper
import graft.storage.{Catalog, CorpusStore}

/** Direct timings of the program's pure public functions on a workload's
  * own inputs (traced runs only). Each figure is the median of five timed
  * passes, after one warm-up pass.
  */
object Micro {
  private def perCallUs(n: Int)(f: => Unit): Double = {
    f
    Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3 / n
    })
  }

  private val clusterFields = Map("clusterId" -> Cql.UuidField,
    "matchValue" -> Cql.TextField, "globalId" -> Cql.UuidField,
    "localId" -> Cql.TextField, "sourceId" -> Cql.TextField,
    "sourceVersion" -> Cql.NumberField)

  /** parse, key extraction, CQL parse and MARCXML render over `batches`;
    * with no batches, over a small seeded sample of the same generator
    */
  def marc(batches: Seq[MarcBatch], sample: => Seq[Rec]): Map[String, Double] = {
    val recs = if (batches.nonEmpty) batches.flatMap(_.upserts) else sample
    val payloads = recs.map(_.payload)
    val files: Seq[(Array[Byte], Boolean)] =
      if (batches.nonEmpty) batches.flatMap(b =>
        Seq(Files.readAllBytes(b.iso) -> true, Files.readAllBytes(b.xml) -> false))
      else Seq(recs.flatMap(r => Iso2709.write(r.marc).toSeq).toArray -> true,
        MarcXml.toCollectionXml(recs.map(_.marc)).getBytes(UTF_8) -> false)
    var parsed = 0
    val parseUs = perCallUs(1) {
      parsed = files.map { case (bytes, binary) =>
        val rs = if (binary) Iso2709.parseAll(bytes)
        else MarcXml.parseCollection(new String(bytes, UTF_8))
        IngestMapper.group(rs.iterator).map(_.toGlobalRecord("S", 1)).size
      }.sum
    }
    val path = JsonPathLite.compile(Workloads.IssnPath.stripPrefix("jsonpath:"))
    val queries = recs.take(200).flatMap(r => Seq(s"""localId = "${r.localId}"""",
      s"""matchValue = "${r.issns.head}"""",
      s"""sourceId = "${r.source}" and localId = "${r.localId}""""))
    val marcs = recs.map(_.marc)
    Map(
      "sources.parse_records_per_s" -> parsed / (parseUs / 1e6),
      "functions.goldrush_us" -> perCallUs(payloads.size)(
        payloads.foreach(GoldRush.matchkeyFromPayload)),
      "functions.jsonpath_us" -> perCallUs(payloads.size)(
        payloads.foreach(path.strings)),
      "cql.parse_us" -> perCallUs(queries.size)(
        queries.foreach(Cql.parse(_, clusterFields))),
      "marc.json_parse_us" -> perCallUs(payloads.size)(
        payloads.foreach(MarcJson.parsePayload)),
      "marc.xml_render_us" -> perCallUs(marcs.size)(marcs.foreach(MarcXml.toXml)))
  }

  /** `Clusterize.ingestBatch` replayed in memory on the ISSN keys of the
    * given record batches (the first one untimed): seconds per batch,
    * clusters absorbed per batch, clusters minted per batch
    */
  def clusterReplay(spark: SparkSession, batches: Seq[Seq[Rec]]): Map[String, Double] = {
    import spark.implicits._
    var state = ClusterState.empty(spark)
    def live(s: ClusterState) = s.assignments.select("clusterId").distinct().count()
    val steps = batches.zipWithIndex.map { case (b, i) =>
      val keys = b.map(r => (r.id, r.issns)).toDF("recordId", "keys")
      val (liveBefore, metaBefore) = (live(state), state.meta.count())
      val t0 = System.nanoTime()
      val next = Clusterize.ingestBatch(state, keys, "replay",
        new java.sql.Timestamp(1700000000000L + i * 1000L))
      val metaAfter = next.meta.count()
      val liveAfter = live(next)
      val s = (System.nanoTime() - t0) / 1e9
      state = ClusterState(next.meta.localCheckpoint(), next.assignments.localCheckpoint(),
        next.values.localCheckpoint())
      val minted = metaAfter - metaBefore
      (s, liveBefore + minted - liveAfter, minted)
    }.drop(1)
    Map("cluster.ingest_s" -> Stats.median(steps.map(_._1)),
      "cluster.merges_per_batch" -> Stats.mean(steps.map(_._2.toDouble)),
      "cluster.new_clusters_per_batch" -> Stats.mean(steps.map(_._3.toDouble)))
  }

  /** share of the index bytes a probe of `batch` names, from the store's
    * public footprint diagnostic
    */
  def probe(cat: Catalog, batch: org.apache.spark.sql.DataFrame,
      buckets: Int): Map[String, Double] = {
    val fp = CorpusStore.probeFootprint(cat, "c", batch, "doc_id", "text",
      "source", 50, 8, buckets)
    val named = fp.values.map(_._2).sum.toDouble
    val total = fp.values.map(_._4).sum.toDouble
    Map("store.probe_bytes_named_frac" -> (if (total > 0) named / total else 0.0))
  }

}
