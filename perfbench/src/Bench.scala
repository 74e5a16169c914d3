package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** The state of one run: every timed op, the failed ones, and per-op notes
  * the per-layer metrics divide by.
  */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer]) {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var nextOp = 0L
  private val failedOps = mutable.LinkedHashSet.empty[Long]
  private var inTimedRound = false
  private var inWarmup = false
  private var reported = 0
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Process CPU seconds (all threads) of each op, by op name. */
  val cpuSamples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val notes = mutable.HashMap.empty[(Long, String), Double]
  val timedOps = mutable.LinkedHashSet.empty[Long]
  /** Ops of warm-up rounds: checked, but kept out of every timing. */
  val warmupOps = mutable.LinkedHashSet.empty[Long]
  /** Wall seconds of every op that completed. */
  val wall = mutable.HashMap.empty[Long, Double]
  var timedRounds = 0

  def attempted: Long = nextOp
  def failed: Long = failedOps.size.toLong

  private def sample(name: String): mutable.ArrayBuffer[Double] =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty)

  /** Runs one public-API call as a timed op. An exception marks the op
    * failed and returns None.
    */
  def op[T](name: String)(body: => T): (Long, Option[T]) = {
    nextOp += 1
    val id = nextOp
    if (inTimedRound) timedOps += id
    if (inWarmup) warmupOps += id
    val t0 = System.nanoTime
    val c0 = os.getProcessCpuTime
    try {
      val r = tracer.fold(body)(_.inOp(id, name)(body))
      val s = (System.nanoTime - t0) / 1e9
      if (!inWarmup) {
        sample(name) += s
        cpuSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (os.getProcessCpuTime - c0) / 1e9
      }
      wall(id) = s
      (id, Some(r))
    } catch {
      case NonFatal(e) =>
        fail(id, s"$name threw $e")
        (id, None)
    }
  }

  /** Records a failed output check against op `id`. */
  def fail(id: Long, msg: String): Unit = {
    failedOps += id
    if (reported < 20) System.err.println(s"[perfbench] FAILED op $id: $msg")
    reported += 1
  }

  def check(id: Long, errors: Seq[String]): Unit = errors.foreach(fail(id, _))

  def note(id: Long, key: String, v: Double): Unit = notes((id, key)) = v

  def observe(name: String, v: Double): Unit = if (!inWarmup) sample(name) += v

  def span[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name)(body))

  /** One client round; an untimed one is a warm-up. */
  def round(timed: Boolean)(body: => Unit): Unit = {
    inTimedRound = timed; inWarmup = !timed
    span(if (timed) "round" else "warmup_round")(body)
    inTimedRound = false; inWarmup = false
    if (timed) timedRounds += 1
  }

  /** A round's latency from per-op medians: each op's median wall time
    * times its count in one round. Client-side file edits and output checks
    * are not counted, and a short stall hits one sample of one op, not the
    * whole figure.
    */
  def roundS(mix: Seq[(String, Double)], of: collection.Map[String, collection.Seq[Double]] = samples): Double =
    mix.map { case (op, n) => n * Stats.median(of.getOrElse(op, Nil).toSeq) }.sum

  /** Closed loop, one client: rounds back to back until `seconds` have
    * passed, and at least `minRounds` of them.
    */
  def timedLoop(seconds: Double, minRounds: Int)(body: => Unit): Unit = {
    val t0 = System.nanoTime
    var n = 0
    while (n < minRounds || (System.nanoTime - t0) / 1e9 < seconds) {
      round(timed = true)(body)
      n += 1
    }
  }
}

/** A workload: its set-up (fresh inputs and standing builds under `dir`)
  * and one client round.
  */
trait Workload {
  type State
  /** `small` inputs serve the untimed JIT and codegen warm-up. */
  def setup(ctx: Ctx, seed: Long, dir: Path, small: Boolean): State
  /** The output checks of the set-up's ops, run after its timer stops. */
  def checkSetup(ctx: Ctx, st: State): Unit = ()
  def round(ctx: Ctx, st: State): Unit
  /** The timed ops of one round and how often each runs in it, on average. */
  def roundMix: Seq[(String, Double)]
  /** Traced mode only: standalone calls into single layers. */
  def probes(ctx: Ctx, st: State): Unit = ()
  /** Artifact roots whose bytes make up `disk_mb` (corpus files excluded). */
  def store(st: State): Path
}

object Main {
  /** Untimed full-size set-ups before the timed ones. Set-up time falls
    * over the first three or four set-ups of a JVM as the JIT warms (3.5,
    * 2.9, 2.8, then 2.5 s for sync_churn on a 4-core x86-64 VM).
    */
  val WarmSetups = 2
  /** Timed set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  val MinRounds = 2
  val EndToEnd = Seq("setup_s" -> "s", "round_s" -> "s", "round_cpu_s" -> "s", "disk_mb" -> "MB")

  def workloads: Map[String, Workload] = Map("sync_churn" -> SyncChurn, "index_lifecycle" -> IndexLifecycle)

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Data files under `p`: hidden and `_`-prefixed marker files excluded. */
  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(x => Files.isRegularFile(x) && !x.getFileName.toString.startsWith(".") &&
        !x.getFileName.toString.startsWith("_")).count()
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  def heapAfterGcMb(): Double = {
    (1 to 3).foreach(_ => System.gc())
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val out = Paths.get(a.getOrElse("out", ".bench_build")).toAbsolutePath
    if (a.get("selftest").contains("1")) { sys.exit(SelfTest.run(out)) }
    val wlName = a.getOrElse("workload", "")
    val wl = workloads.getOrElse(wlName, {
      System.err.println(s"perfbench: unknown workload '$wlName' (${workloads.keys.mkString(", ")})")
      sys.exit(2)
    })
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.get("seconds").map(_.toDouble).getOrElse {
      System.err.println("perfbench: --seconds is required")
      sys.exit(2)
    }
    val traced = a.get("trace").contains("1")

    val spark = session()
    val sessionS = (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    Files.createDirectories(out.resolve("runs"))
    val work = Files.createTempDirectory(out.resolve("runs"), s"$wlName-$seed-")
    val ctx = new Ctx(spark, tracer)
    try {
      // warm the JIT and Spark's codegen cache with the workload's own calls
      // on small inputs, so that neither set-up nor rounds time compilation
      ctx.round(timed = false) {
        val w = ctx.span("setup")(wl.setup(ctx, seed + 1, work.resolve("warmup"), small = true))
        wl.checkSetup(ctx, w)
        wl.round(ctx, w)
      }
      deleteTree(work.resolve("warmup"))
      for (i <- 1 to WarmSetups) ctx.round(timed = false) {
        wl.checkSetup(ctx, ctx.span("setup")(wl.setup(ctx, seed, work.resolve(s"warm$i"), small = false)))
        deleteTree(work.resolve(s"warm$i"))
      }
      // several set-ups, each in a fresh root and checked after its timer
      // stops; the rounds run on the last one
      val reps = mutable.ArrayBuffer.empty[(Double, wl.State)]
      for (i <- 1 to SetupReps) {
        if (i > 1) deleteTree(work.resolve(s"setup${i - 1}"))
        val t0 = System.nanoTime
        val st = ctx.span("setup")(wl.setup(ctx, seed, work.resolve(s"setup$i"), small = false))
        reps += ((System.nanoTime - t0) / 1e9 -> st)
        wl.checkSetup(ctx, st)
      }
      val st = reps.last._2
      val buildS = Stats.median(reps.map(_._1).toSeq)
      ctx.timedLoop(seconds, MinRounds)(wl.round(ctx, st))
      val diskMb = dirBytes(wl.store(st)) / (1024.0 * 1024.0)
      val e2e = Map("setup_s" -> buildS, "round_s" -> ctx.roundS(wl.roundMix),
        "round_cpu_s" -> ctx.roundS(wl.roundMix, ctx.cpuSamples), "disk_mb" -> diskMb)
      val metrics: Seq[(String, Any)] = tracer match {
        case None => EndToEnd.map { case (n, u) => n -> Map("value" -> e2e(n), "unit" -> u) }
        case Some(t) =>
          wl.probes(ctx, st)
          val layers = Layers.compute(ctx, new OpStats(t, ctx.warmupOps.toSet), sessionS, buildS) +
            ("jvm.heap_after_gc_mb" -> heapAfterGcMb())
          t.write(out.resolve("traces").resolve(s"$wlName-seed$seed.jsonl"), Seq(
            "workload" -> wlName, "seed" -> seed, "seconds" -> seconds,
            "nproc" -> Runtime.getRuntime.availableProcessors) ++
            e2e.toSeq.map { case (k, v) => s"e2e.$k" -> v })
          Layers.Names.map { case (n, u) => n -> Map("value" -> layers.getOrElse(n, 0.0), "unit" -> u) }
      }
      val opMedians = wl.roundMix.map { case (op, _) => f"$op=${Stats.median(ctx.samples.getOrElse(op, Nil).toSeq)}%.3f" }
      System.err.println(s"[perfbench] $wlName seed=$seed rounds=${ctx.timedRounds} " +
        s"op_medians_s=${opMedians.mkString(",")} setup_reps=${reps.map(r => f"${r._1}%.2f").mkString(",")} " +
        s"session_s=$sessionS")
      val correct = ctx.failed == 0
      println(Json.obj(Seq("correct" -> correct, "attempted" -> math.max(1L, ctx.attempted),
        "failed" -> ctx.failed, "metrics" -> metrics.toMap)))
    } finally {
      tracer.foreach(_.stop())
      spark.stop()
      deleteTree(work)
    }
  }
}
