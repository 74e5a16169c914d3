package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed public-API call: its name, wall interval (both clocks: the
  * listener stamps jobs in epoch ms, durations use nanoTime) and the JVM
  * GC time it overlapped.
  */
final case class OpRec(id: Long, name: String, startMs: Long, endMs: Long,
                       startNs: Long, endNs: Long, gcMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task-metric totals of one Spark job, and the layer it is attributed to:
  * the program file of its call site (e.g. `count at VectorIndex.scala:71`
  * or a `VectorIndex.scala:71` stack frame → `VectorIndex`).
  */
final class JobRec(val jobId: Int, val group: Option[String], val callSite: String,
                   val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outRecords = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  val layer: String = {
    val m = """[ (]([A-Za-z0-9_$]+)\.scala:""".r.findFirstMatchIn(callSite)
    m.map(_.group(1)).getOrElse("other")
  }
}

final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startNs: Long, endNs: Long)

/** Traced mode, measured from outside the program: the benchmark's own spans
  * around each public layer call, plus a listener that attributes every
  * Spark job to the op that ran it. Jobs carry the op's job group; a job
  * without one (a helper thread that did not inherit the group) is given to
  * the op whose interval covers its start. Everything is kept in memory and
  * written as JSON lines when the run ends.
  */
final class Tracer(sc: SparkContext) {
  private val GroupPrefix = "perfbench-op-"
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  /** First program frame of the call that started each SQL execution. */
  private val sqlSite = mutable.HashMap.empty[Long, String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val openSpans = mutable.Stack.empty[(Long, String, Long, Long)] // id, name, op, startNs
  private var nextSpan = 0L
  private var currentOp = 0L
  val ops = mutable.ArrayBuffer.empty[OpRec]

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => jobs.synchronized {
        sqlSite(s.executionId) = s.details.linesIterator.map(_.trim)
          .find(f => f.nonEmpty && !Seq("org.apache.spark.", "scala.", "java.", "jdk.").exists(f.startsWith))
          .getOrElse("")
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
      // SQL jobs often start on Spark's own threads, whose call site names no
      // program file; their execution's start carries the caller's stack.
      // Other jobs: a stage's name is the short call site, e.g. "count at Sync.scala:47".
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlSite.get(id.toLong))
        .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("")
      val j = new JobRec(e.jobId, group, site, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.outRecords += m.outputMetrics.recordsWritten
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      }
    }
  }
  sc.addSparkListener(listener)

  def gcMsNow: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def beginSpan(name: String, op: Long = currentOp): Unit = {
    nextSpan += 1
    openSpans.push((nextSpan, name, op, System.nanoTime))
  }

  def endSpan(): Unit = {
    val (id, name, op, start) = openSpans.pop()
    val parent = openSpans.headOption.map(_._1).getOrElse(0L)
    spans += Span(id, name, parent, op, start, System.nanoTime)
  }

  def span[T](name: String)(body: => T): T = {
    beginSpan(name); try body finally endSpan()
  }

  /** Runs `body` as op `id`: job group set, span recorded, GC time taken. */
  def inOp[T](id: Long, name: String)(body: => T): T = {
    val ms0 = System.currentTimeMillis; val ns0 = System.nanoTime; val gc0 = gcMsNow
    currentOp = id
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    beginSpan(name, id)
    try body
    finally {
      endSpan()
      sc.clearJobGroup()
      currentOp = 0L
      ops += OpRec(id, name, ms0, System.currentTimeMillis, ns0, System.nanoTime, gcMsNow - gc0)
    }
  }

  /** Waits for the listener bus, then groups jobs by the op they ran in. */
  def jobsByOp(): Map[Long, Seq[JobRec]] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val all = jobs.synchronized(jobs.values.toVector)
    all.flatMap { j =>
      val byGroup = j.group.map(_.stripPrefix(GroupPrefix).toLong)
      val byTime = ops.find(o => j.startMs >= o.startMs && j.startMs <= o.endMs).map(_.id)
      byGroup.orElse(byTime).map(_ -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  def stop(): Unit = sc.removeSparkListener(listener)

  /** Spans, jobs and run metadata as JSON lines. */
  def write(path: java.nio.file.Path, meta: Seq[(String, Any)]): Unit = {
    val byOp = jobsByOp()
    val lines = mutable.ArrayBuffer.empty[String]
    lines += Json.obj(("kind" -> "meta") +: meta)
    spans.sortBy(_.startNs).foreach { s =>
      lines += Json.obj(Seq("kind" -> "span", "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    for ((op, js) <- byOp.toSeq.sortBy(_._1); j <- js.sortBy(_.jobId))
      lines += Json.obj(Seq("kind" -> "job", "op" -> op, "job" -> j.jobId, "layer" -> j.layer,
        "call_site" -> j.callSite, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "tasks" -> j.tasks, "input_bytes" -> j.inBytes, "input_records" -> j.inRecords,
        "output_records" -> j.outRecords, "shuffle_write_bytes" -> j.shuffleWrite,
        "shuffle_read_bytes" -> j.shuffleRead))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Per-op views over the listener's jobs: the numbers the per-layer metrics
  * are built from.
  */
final class OpStats(tracer: Tracer, warmup: Set[Long]) {
  private val byOp = tracer.jobsByOp()
  def ops(name: String): Seq[OpRec] = tracer.ops.filter(o => o.name == name && !warmup.contains(o.id)).toSeq
  def jobs(o: OpRec): Seq[JobRec] = byOp.getOrElse(o.id, Nil)

  /** Union length (ms) of the intervals, clipped to the op. */
  private def unionMs(o: OpRec, js: Seq[JobRec]): Long = {
    val iv = js.map(j => (math.max(j.startMs, o.startMs), math.min(math.max(j.endMs, j.startMs), o.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Op wall time not covered by any running job (planning, listing, renames). */
  def driverGapS(o: OpRec): Double =
    math.max(0.0, o.wallS - unionMs(o, jobs(o)) / 1e3)

  def layerJobS(o: OpRec, layer: String): Double = unionMs(o, jobs(o).filter(_.layer == layer)) / 1e3
  def nJobs(o: OpRec): Double = jobs(o).size.toDouble
  def tasks(o: OpRec): Double = jobs(o).map(_.tasks).sum.toDouble
  def shuffleBytes(o: OpRec): Double = jobs(o).map(j => j.shuffleWrite).sum.toDouble
  def inputBytes(o: OpRec): Double = jobs(o).map(_.inBytes).sum.toDouble
  def inputRecords(o: OpRec): Double = jobs(o).map(_.inRecords).sum.toDouble
  def outputRecords(o: OpRec, layer: String): Double =
    jobs(o).filter(_.layer == layer).map(_.outRecords).sum.toDouble

  /** Median of `f` over the ops named `name`; 0 when the workload ran none. */
  def med(name: String)(f: OpRec => Double): Double = Stats.median(ops(name).map(f))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
