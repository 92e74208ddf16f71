package resbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a public function of the program. */
final case class Span(id: String, op: String, parent: Option[String],
    traceId: String, traced: Boolean, start: Long, end: Long, startMs: Long,
    endMs: Long, resultRows: Long, userBytes: Long, fs: Map[String, Long]) {
  def wall: Double = (end - start) / 1e9
}

/** Per-job record kept by [[JobListener]]. */
final class JobRec(val group: String, val desc: String, val submit: Long,
    stageSite: String, execId: Option[Long],
    execSites: java.util.Map[Long, String]) {
  /** the caller's stack: the SQL execution's call site when the job ran
    * for one (broadcast and subquery jobs run on Spark's own threads, whose
    * stacks hold no program frames), else the job's last stage's
    */
  def callSite: String =
    execId.flatMap(id => Option(execSites.get(id))).getOrElse(stageSite)

  @volatile var end = 0L
  @volatile var firstLaunch = Long.MaxValue
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val resultBytes = new AtomicLong
  val inputRows = new AtomicLong
}

/** Benchmark-side listener: records every job with the Spark job group and
  * description it was submitted under. Only while `full` (a traced run) does
  * it fold task metrics into each job; otherwise it pays for job bookkeeping
  * alone.
  */
final class JobListener(@volatile var full: Boolean) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execSites = new ConcurrentHashMap[Long, String]()
  val pending = new AtomicLong

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if full =>
      execSites.put(x.executionId, x.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val site = if (!full) "" else e.stageInfos.sortBy(_.stageId).lastOption
      .map(_.details).getOrElse("")
    val exec = Option(prop("spark.sql.execution.id")).filter(_.nonEmpty).map(_.toLong)
    val j = new JobRec(prop("spark.jobGroup.id"),
      prop("spark.job.description"), e.time, site, exec, execSites)
    jobs.put(e.jobId, j)
    pending.incrementAndGet()
    if (full) e.stageIds.foreach(stageJob.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    pending.decrementAndGet()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    if (full) Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.firstLaunch = math.min(j.firstLaunch, e.taskInfo.launchTime)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (full) Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        j.resultBytes.addAndGet(m.resultSize)
        j.inputRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }

  /** wait until every submitted job has ended and the bus has gone quiet */
  def quiesce(maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (pending.get() > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  def jobsOf(group: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.group == group).toSeq
}

/** Span recorder. Every call the benchmark makes into the program goes
  * through [[span]]: it sets a fresh Spark job group, so the listener can
  * attribute jobs, and (when tracing) samples the Hadoop filesystem
  * statistics around the call. Spans stay in memory until the run ends.
  */
final class Tracer(sc: SparkContext, val traced: Boolean, traceId: String) {
  val listener = new JobListener(traced)
  sc.addSparkListener(listener)
  private val seq = new AtomicLong
  private val stack = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  /** the catalog root whose new files a traced span counts */
  @volatile var root: Option[java.nio.file.Path] = None

  private def files(): Set[String] = root.filter(java.nio.file.Files.exists(_)).map { r =>
    scala.util.Using.resource(java.nio.file.Files.walk(r)) {
      _.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toSet
    }
  }.getOrElse(Set.empty)

  private def fsSample(): Map[String, Long] = {
    val all = FileSystem.getAllStatistics.asScala
    Map(
      "bytes_written" -> all.map(_.getBytesWritten).sum,
      "bytes_read" -> all.map(_.getBytesRead).sum)
  }

  /** Run `f` as one span of `op`; `rows` counts what the call returned and
    * `userBytes` the payload it was handed.
    */
  def span[T](op: String, userBytes: Long)(f: => T)(rows: T => Long): (T, Span) = {
    val id = s"rb-${seq.incrementAndGet()}"
    val parent = stack.get().headOption
    stack.set(id :: stack.get())
    sc.setJobGroup(id, op, interruptOnCancel = false)
    val fs0 = if (traced) fsSample() else Map.empty[String, Long]
    val files0 = if (traced) files() else Set.empty[String]
    val (t0, ms0) = (System.nanoTime(), System.currentTimeMillis())
    val out = try f finally {
      stack.set(stack.get().tail)
      stack.get().headOption match {
        case Some(p) => sc.setJobGroup(p, op, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
    val (t1, ms1) = (System.nanoTime(), System.currentTimeMillis())
    // the local filesystem counts bytes but not operations, so new files
    // are counted from the catalog root's listing
    val fs = if (traced) {
      val fs1 = fsSample()
      fs1.map { case (k, v) => k -> (v - fs0(k)) } +
        ("files_written" -> (files() -- files0).size.toLong)
    } else Map.empty[String, Long]
    val s = Span(id, op, parent, traceId, traced, t0, t1, ms0, ms1, rows(out),
      userBytes, fs)
    spans.add(s)
    (out, s)
  }

  /** Tracing's own cost on one call `f`: the median wall of `pairs` traced
    * calls over that of as many bare calls (no span, job bookkeeping only),
    * after one warm-up call, each pair in turn bare-first and traced-first,
    * minus one.
    */
  def overhead(pairs: Int)(f: => Any): Double = {
    def bare(): Double = {
      listener.full = false
      val t0 = System.nanoTime()
      try f finally listener.full = traced
      (System.nanoTime() - t0) / 1e9
    }
    def inSpan(): Double = span("overhead_probe", 0L)(f)(_ => 0L)._2.wall
    f
    val walls = (0 until pairs).map { k =>
      if (k % 2 == 0) { val b = bare(); (b, inSpan()) }
      else { val t = inSpan(); (bare(), t) }
    }
    Stats.median(walls.map(_._2)) / Stats.median(walls.map(_._1)) - 1
  }

  /** Jobs of each span. A job belongs to the span named by its job group
    * when it was submitted inside that span. The program's commit and probe
    * pools keep the job group their threads inherited when they were made,
    * so a job submitted outside its group's span goes to the innermost
    * write span (`writeOps`) open at its submit time.
    */
  def attribute(writeOps: Set[String]): Map[String, Seq[JobRec]] = {
    listener.quiesce()
    val all = spans.asScala.toSeq
    val byId = all.map(s => s.id -> s).toMap
    val writes = all.filter(s => writeOps(s.op))
    listener.jobs.values.asScala.toSeq.flatMap { j =>
      byId.get(j.group).filter(s => j.submit >= s.startMs && j.submit <= s.endMs)
        .orElse(writes.filter(s => j.submit >= s.startMs && j.submit <= s.endMs)
          .sortBy(-_.startMs).headOption)
        .map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
}

/** Union of intervals, for job-covered time inside a span. */
object Intervals {
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Module of the innermost `graft.*` frame of a stage call site. */
object CallSite {
  private val modules = Seq("api", "cluster", "storage", "sources", "marc",
    "functions", "cql")

  def module(site: String): String =
    site.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") && !l.startsWith("graft.Bench") =>
        val pkg = l.stripPrefix("graft.").takeWhile(_ != '.')
        if (modules.contains(pkg)) pkg else "other"
    }.getOrElse("other")

  /** phase of a store job, from the labels `CorpusStore.ingestBatch` and
    * the catalog's staging writes set as job descriptions
    */
  def storePhase(desc: String): String = {
    val d = desc.toLowerCase
    if (d.startsWith("stage ") || d.contains("mergeindexes")) "commit"
    else if (d.contains("strip")) "strip"
    else if (d.contains("probe") || d.contains("route") || d.contains("candidate")) "probe"
    else "other"
  }
}

/** Order statistics used for every reported timing. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** the highest of p50/p90/p99/p99.9 with at least 10 samples beyond it */
  def supportedTail(xs: Seq[Double]): (String, Double) = {
    val qs = Seq("p99.9" -> 0.999, "p99" -> 0.99, "p90" -> 0.9, "p50" -> 0.5)
    qs.find { case (_, q) => xs.size * (1 - q) >= 10 }
      .map { case (n, q) => n -> quantile(xs, q) }
      .getOrElse("max" -> (if (xs.isEmpty) 0.0 else xs.max))
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
