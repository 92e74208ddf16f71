package resbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The reservoir benchmark.
  *
  * Usage: resbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --shapes <workloads.json> --work <dir> --result <file>
  *
  * Runs one workload against the program's public API, checks its outputs,
  * and writes one JSON result object to `--result`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. Spans go to
  * `spans.jsonl` beside the result.
  */
object Main {
  val ReadOps = Seq("cql_lookup", "get_record", "list_page", "version_read")
  val WriteOps = Seq("ingest", "store")
  private val PerOp = Seq("wall_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "job_busy_s" -> "s", "driver_self_s" -> "s", "sched_wait_s" -> "s",
    "task_cpu_s" -> "s", "shuffle_read_bytes" -> "B", "shuffle_write_bytes" -> "B",
    "spill_bytes" -> "B", "result_bytes" -> "B", "input_rows_per_result" -> "ratio",
    "fs_bytes_written" -> "B", "fs_files_written" -> "count", "fs_bytes_read" -> "B")
  val IngestModules = Seq("api", "cluster", "storage", "sources")
  val StorePhases = Seq("probe", "strip", "commit", "other")
  val MicroUnits = Seq("sources.parse_records_per_s" -> "1/s",
    "functions.goldrush_us" -> "us", "functions.jsonpath_us" -> "us",
    "cql.parse_us" -> "us", "marc.json_parse_us" -> "us",
    "marc.xml_render_us" -> "us", "cluster.ingest_s" -> "s",
    "cluster.merges_per_batch" -> "count", "cluster.new_clusters_per_batch" -> "count",
    "store.probe_bytes_named_frac" -> "ratio")

  /** every per-layer metric name with its unit, in report order */
  val perLayerUnits: Seq[(String, String)] =
    (ReadOps ++ WriteOps).flatMap(op => PerOp.map { case (m, u) => s"$op.$m" -> u }) ++
      WriteOps.map(op => s"$op.write_amp" -> "ratio") ++
      IngestModules.flatMap(m => Seq(s"ingest.$m.jobs" -> "count", s"ingest.$m.job_s" -> "s")) ++
      StorePhases.map(p => s"store.$p.jobs" -> "count") ++ MicroUnits ++
      Seq("process.peak_rss_mb" -> "MB", "trace.overhead_frac" -> "ratio")

  /** point reads: what `read_s` takes the median of */
  val PointReads = Seq("cql_lookup", "get_record", "version_read")

  val endToEndUnits: Seq[(String, String)] = Seq("setup_s" -> "s", "batch_s" -> "s",
    "records_per_s" -> "1/s", "jobs_per_batch" -> "count", "read_s" -> "s",
    "bytes_per_user_byte" -> "ratio")

  private def arg(argv: Seq[String], k: String): String = {
    val i = argv.indexOf(s"--$k")
    if (i >= 0 && i + 1 < argv.size) argv(i + 1)
    else throw new IllegalArgumentException(s"missing --$k")
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.toSeq
    val workload = arg(a, "workload")
    val seed = arg(a, "seed").toLong
    val seconds = arg(a, "seconds").toDouble
    val traced = arg(a, "trace") == "1"
    val work = Paths.get(arg(a, "work"))
    val result = Paths.get(arg(a, "result"))
    val shapes = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(arg(a, "shapes"))))
    val node = Option(shapes.get("workloads")).flatMap(w => Option(w.get(workload)))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload: $workload"))
    val shape = node.properties.asScala.collect {
      case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble
    }.toMap

    val loadBefore = graft.Bench.loadavgJson()
    val t0 = System.nanoTime()
    val spark = graft.Bench.benchSession("resbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, traced, s"$workload-$seed")
    val out = new Outcome
    val ctx = new Ctx(spark, work, seed, seconds, shape, tracer, out)
    workload match {
      case "ingest-merge" => Workloads.ingestMerge(ctx)
      case "corpus-store" => Workloads.corpusStore(ctx)
    }
    val writeOp = if (workload == "corpus-store") "store" else "ingest"
    val jobs = tracer.attribute(WriteOps.toSet)
    val spans = tracer.spans.asScala.toSeq.sortBy(_.start)
    val calib = graft.Bench.calibrationSec(spark)
    val sentinel = s"""{"loadavg_before":$loadBefore,"loadavg_after":""" +
      s"""${graft.Bench.loadavgJson()},"calibration_sec":$calib}"""
    println(s"[resbench] sentinel $sentinel")

    val ops = out.ops.asScala.toSeq
    def walls(op: String) = ops.filter(_._1 == op).map(_._2)
    val writes = ops.filter(_._1 == writeOp)
    val reads = ops.filter(o => PointReads.contains(o._1))
    val metrics: Seq[(String, Double)] =
      if (!traced) Seq(
        "setup_s" -> (sessionS + out.setupS),
        "batch_s" -> Stats.median(writes.map(_._2)),
        "records_per_s" -> writes.map(_._3).sum / math.max(writes.map(_._2).sum, 1e-9),
        "jobs_per_batch" -> Stats.median(spans.filter(_.op == writeOp)
          .map(s => jobs.getOrElse(s.id, Nil).size.toDouble)),
        "read_s" -> Stats.median(reads.map(_._2)),
        "bytes_per_user_byte" -> du(out.catalogRoot) / math.max(out.userBytes, 1L).toDouble)
      else {
        val layer = Layers.perLayer(spans, jobs) ++ out.micro +
          ("process.peak_rss_mb" -> peakRssMb())
        perLayerUnits.map { case (k, _) => k -> layer.getOrElse(k, 0.0) }
      }

    // human-readable report
    println(f"[resbench] $workload seed=$seed trace=${if (traced) 1 else 0} " +
      f"session=${sessionS}%.2fs setup=${out.setupS}%.2fs")
    println(f"[resbench] ${"op"}%-13s ${"n"}%5s ${"median_s"}%9s ${"tail"}%6s ${"tail_s"}%8s")
    (WriteOps ++ ReadOps).filter(op => walls(op).nonEmpty).foreach { op =>
      val w = walls(op)
      val (tn, tv) = Stats.supportedTail(w)
      println(f"[resbench] $op%-13s ${w.size}%5d ${Stats.median(w)}%9.3f $tn%6s $tv%8.3f  " +
        w.map(x => f"$x%.2f").mkString(" "))
    }
    if (reads.nonEmpty) {
      val (tn, tv) = Stats.supportedTail(reads.map(_._2))
      println(f"[resbench] point reads: n=${reads.size} " +
        f"median=${Stats.median(reads.map(_._2))}%.3f s $tn=$tv%.3f s")
    }
    // jobs per write call as the benchmark attributes them, and as a job
    // group alone counts them (the status tracker's view, CorpusStoreBench's
    // countJobs); the two differ by jobs the program's thread pools submit
    // under a job group their threads inherited from an earlier call
    val ws = spans.filter(_.op == writeOp)
    println(s"[resbench] $writeOp jobs per call: attributed=" +
      ws.map(s => jobs.getOrElse(s.id, Nil).size).mkString(",") + " by job group=" +
      ws.map(s => tracer.listener.jobsOf(s.id).size).mkString(","))
    if (traced) Layers.table(spans, jobs).foreach(l => println(s"[resbench] $l"))
    out.notes.foreach(n => println(s"[resbench] $n"))
    println(s"[resbench] attempted=${out.attempted.get} failed=${out.failed.get} " +
      f"fail_frac=${out.failed.get.toDouble / math.max(out.attempted.get, 1L)}%.4f")

    Files.write(result.resolveSibling("spans.jsonl"), spans.map { s =>
      s"""{"trace":"${s.traceId}","id":"${s.id}","op":"${s.op}",""" +
        s""""parent":${s.parent.map("\"" + _ + "\"").getOrElse("null")},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"traced":${s.traced},""" +
        s""""jobs":${jobs.getOrElse(s.id, Nil).size}}"""
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    val units = (if (traced) perLayerUnits else endToEndUnits).toMap
    val body = metrics.map { case (k, v) =>
      s""""$k":{"value":${num(v)},"unit":"${units(k)}"}"""
    }.mkString(",")
    val attempted = math.max(out.attempted.get, 1L)
    Files.write(result, (s"""{"correct":${out.failed.get == 0},""" +
      s""""attempted":$attempted,"failed":${out.failed.get},"metrics":{$body}}""")
      .getBytes(UTF_8))
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  private def du(root: Path): Double =
    if (root == null || !Files.exists(root)) 0.0
    else scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum.toDouble
    }

  private def peakRssMb(): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) {
      _.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    }.getOrElse(0.0)
}

/** Per-layer aggregation of traced spans and their attributed jobs. */
object Layers {
  private case class Cost(wall: Double, jobs: Seq[JobRec], s: Span) {
    def clipped: Seq[(Long, Long)] = jobs.map(j =>
      (math.max(j.submit, s.startMs), math.min(math.max(j.end, j.submit), s.endMs)))
    def busy: Double = Intervals.union(clipped) / 1e3
    def wait_s: Double = jobs.filter(_.firstLaunch != Long.MaxValue)
      .map(j => math.max(0L, j.firstLaunch - j.submit)).sum / 1e3
  }

  def perLayer(spans: Seq[Span], jobs: Map[String, Seq[JobRec]]): Map[String, Double] = {
    val costs = spans.filter(_.traced).map(s => Cost(s.wall, jobs.getOrElse(s.id, Nil), s))
    val m = Map.newBuilder[String, Double]
    (Main.ReadOps ++ Main.WriteOps).foreach { op =>
      val cs = costs.filter(_.s.op == op)
      if (cs.nonEmpty) {
        def per(f: Cost => Double) = Stats.mean(cs.map(f))
        def sumJ(f: JobRec => Long) = (c: Cost) => c.jobs.map(f).sum.toDouble
        val rows = cs.map(_.s.resultRows).sum.toDouble
        m ++= Seq(s"$op.wall_s" -> Stats.median(cs.map(_.wall)),
          s"$op.jobs" -> per(_.jobs.size.toDouble),
          s"$op.tasks" -> per(sumJ(_.tasks.get)),
          s"$op.job_busy_s" -> per(_.busy),
          s"$op.driver_self_s" -> per(c => c.wall - c.busy),
          s"$op.sched_wait_s" -> per(_.wait_s),
          s"$op.task_cpu_s" -> per(sumJ(_.cpuNs.get)) / 1e9,
          s"$op.shuffle_read_bytes" -> per(sumJ(_.shuffleRead.get)),
          s"$op.shuffle_write_bytes" -> per(sumJ(_.shuffleWrite.get)),
          s"$op.spill_bytes" -> per(sumJ(_.spill.get)),
          s"$op.result_bytes" -> per(sumJ(_.resultBytes.get)),
          s"$op.input_rows_per_result" ->
            cs.map(sumJ(_.inputRows.get)).sum / math.max(rows, 1.0),
          s"$op.fs_bytes_written" -> per(_.s.fs("bytes_written").toDouble),
          s"$op.fs_files_written" -> per(_.s.fs("files_written").toDouble),
          s"$op.fs_bytes_read" -> per(_.s.fs("bytes_read").toDouble))
        if (Main.WriteOps.contains(op)) m += s"$op.write_amp" ->
          cs.map(_.s.fs("bytes_written")).sum.toDouble /
            math.max(cs.map(_.s.userBytes).sum, 1L)
      }
    }
    val ingest = costs.filter(_.s.op == "ingest")
    if (ingest.nonEmpty) Main.IngestModules.foreach { mod =>
      val part = ingest.map(c => c.copy(jobs = c.jobs.filter(j => CallSite.module(j.callSite) == mod)))
      m += s"ingest.$mod.jobs" -> Stats.mean(part.map(_.jobs.size.toDouble))
      m += s"ingest.$mod.job_s" -> Stats.mean(part.map(_.busy))
    }
    val store = costs.filter(_.s.op == "store")
    if (store.nonEmpty) Main.StorePhases.foreach { ph =>
      m += s"store.$ph.jobs" -> Stats.mean(store.map(
        _.jobs.count(j => CallSite.storePhase(j.desc) == ph).toDouble))
    }
    m.result()
  }

  /** per-op table: span wall, job-covered time, driver self time, sched wait */
  def table(spans: Seq[Span], jobs: Map[String, Seq[JobRec]]): Seq[String] = {
    val costs = spans.filter(_.traced).map(s => Cost(s.wall, jobs.getOrElse(s.id, Nil), s))
    val header =
      f"${"op"}%-13s ${"n"}%4s ${"wall_s"}%8s ${"jobs_s"}%8s ${"self_s"}%8s ${"wait_s"}%8s ${"jobs"}%6s"
    val rows = (Main.WriteOps ++ Main.ReadOps).flatMap { op =>
      val cs = costs.filter(_.s.op == op)
      if (cs.isEmpty) None
      else {
        val (w, b) = (cs.map(_.wall).sum, cs.map(_.busy).sum)
        Some(f"$op%-13s ${cs.size}%4d $w%8.2f $b%8.2f ${w - b}%8.2f " +
          f"${cs.map(_.wait_s).sum}%8.2f ${cs.map(_.jobs.size).sum}%6d")
      }
    }
    val splits = Seq("ingest" -> ((j: JobRec) => CallSite.module(j.callSite)),
      "store" -> ((j: JobRec) => CallSite.storePhase(j.desc))).flatMap { case (op, key) =>
      val js = costs.filter(_.s.op == op).flatMap(_.jobs)
      if (js.isEmpty) None
      else Some(s"$op jobs by ${if (op == "ingest") "module" else "phase"}: " +
        js.groupBy(key).toSeq.sortBy(-_._2.size).map { case (k, v) => s"$k=${v.size}" }
          .mkString(" "))
    }
    header +: (rows ++ splits)
  }
}
