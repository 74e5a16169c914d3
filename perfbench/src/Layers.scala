package perfbench

/** The per-layer metrics of a traced run. Every workload prints all of them;
  * a layer the workload does not call reads 0. The README maps each one to
  * the end-to-end metric and workload it should move.
  */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.build_s" -> "s",
    "sync.full_s" -> "s", "sync.resync_s" -> "s", "sync.noop_s" -> "s",
    "sync.jobs" -> "count", "sync.noop_jobs" -> "count",
    "sync.driver_gap_s" -> "s", "sync.noop_driver_gap_s" -> "s",
    "sync.job_s.Sync" -> "s", "sync.job_s.VectorIndex" -> "s", "sync.job_s.StateStore" -> "s",
    "sync.shuffle_bytes" -> "bytes", "sync.gc_s" -> "s",
    "scan.list_s" -> "s", "scan.bytes_read_per_changed_byte" -> "ratio",
    "delta.s" -> "s", "embed.docs_per_s" -> "1/s",
    "index.rows_written_per_changed" -> "ratio", "index.files_written" -> "count",
    "topk.search_p50_ms" -> "ms", "topk.search_p90_ms" -> "ms", "topk.samples" -> "count",
    "topk.jobs_per_query" -> "count", "topk.driver_gap_ms" -> "ms", "topk.rows_scanned_per_result" -> "ratio",
    "knn.batch_s" -> "s", "knn.batch_qps" -> "1/s", "knn.shuffle_bytes" -> "bytes",
    "ann.p50_ms" -> "ms", "ann.p90_ms" -> "ms", "ann.samples" -> "count", "ann.recall_at_10" -> "ratio",
    "ann.jobs_per_query" -> "count", "ann.driver_gap_ms" -> "ms", "ann.rows_scanned_per_result" -> "ratio",
    "erasure.repair_s" -> "s", "erasure.jobs" -> "count", "erasure.cells_touched" -> "count",
    "erasure.rows_rewritten_per_erased" -> "ratio", "erasure.append_s" -> "s", "erasure.append_jobs" -> "count",
    "erasure.driver_gap_s" -> "s",
    "migration.cycle_s" -> "s", "migration.migrate_s" -> "s", "migration.rollback_s" -> "s",
    "migration.rollforward_s" -> "s", "migration.jobs" -> "count",
    "spark.jobs_per_round" -> "count", "spark.tasks_per_round" -> "count", "spark.gc_s_per_round" -> "s",
    "run.timed_rounds" -> "count", "run.error_rate" -> "ratio", "jvm.heap_after_gc_mb" -> "MB")

  def compute(ctx: Ctx, st: OpStats, sessionS: Double, buildS: Double): Map[String, Double] = {
    def note(o: OpRec, k: String): Option[Double] = ctx.notes.get((o.id, k))
    def ratio(name: String)(num: OpRec => Double, den: OpRec => Option[Double]): Double =
      Stats.median(st.ops(name).flatMap(o => den(o).filter(_ > 0).map(num(o) / _)))
    def q(name: String, p: Double): Double = Stats.quantile(ctx.samples.getOrElse(name, Nil).toSeq, p)
    def n(name: String): Double = ctx.samples.get(name).map(_.size.toDouble).getOrElse(0.0)
    def mean(name: String): Double = ctx.samples.get(name).filter(_.nonEmpty).map(x => x.sum / x.size).getOrElse(0.0)
    val timed = ctx.tracer.map(_.ops.filter(o => ctx.timedOps.contains(o.id)).toSeq).getOrElse(Nil)
    val rounds = math.max(1, ctx.timedRounds).toDouble
    val erases = st.ops("erase")
    val knnS = st.med("knn")(_.wallS)
    Map(
      "setup.session_s" -> sessionS,
      "setup.build_s" -> buildS,
      "sync.full_s" -> st.med("sync_full")(_.wallS),
      "sync.resync_s" -> st.med("resync")(_.wallS),
      "sync.noop_s" -> st.med("noop_sync")(_.wallS),
      "sync.jobs" -> st.med("resync")(st.nJobs),
      "sync.noop_jobs" -> st.med("noop_sync")(st.nJobs),
      "sync.driver_gap_s" -> st.med("resync")(st.driverGapS),
      "sync.noop_driver_gap_s" -> st.med("noop_sync")(st.driverGapS),
      "sync.job_s.Sync" -> st.med("resync")(st.layerJobS(_, "Sync")),
      "sync.job_s.VectorIndex" -> st.med("resync")(st.layerJobS(_, "VectorIndex")),
      "sync.job_s.StateStore" -> st.med("resync")(st.layerJobS(_, "StateStore")),
      "sync.shuffle_bytes" -> st.med("resync")(st.shuffleBytes),
      "sync.gc_s" -> st.med("resync")(_.gcMs / 1e3),
      "scan.list_s" -> st.med("probe.scan")(_.wallS),
      "scan.bytes_read_per_changed_byte" -> ratio("resync")(st.inputBytes, note(_, "changed_bytes")),
      "delta.s" -> st.med("probe.delta")(_.wallS),
      "embed.docs_per_s" -> ratio("probe.embed")(o => note(o, "docs").getOrElse(0.0), o => Some(o.wallS)),
      "index.rows_written_per_changed" ->
        ratio("resync")(st.outputRecords(_, "VectorIndex"), note(_, "changed_and_deleted")),
      "index.files_written" -> Stats.median(st.ops("resync").flatMap(note(_, "files_written"))),
      "topk.search_p50_ms" -> q("search", 0.5) * 1e3,
      "topk.search_p90_ms" -> q("search", 0.9) * 1e3,
      "topk.samples" -> n("search"),
      "topk.jobs_per_query" -> st.med("search")(st.nJobs),
      "topk.driver_gap_ms" -> st.med("search")(st.driverGapS) * 1e3,
      "topk.rows_scanned_per_result" -> st.med("search")(st.inputRecords) / SyncChurn.K,
      "knn.batch_s" -> knnS,
      "knn.batch_qps" -> (if (knnS > 0) SyncChurn.Batch / knnS else 0.0),
      "knn.shuffle_bytes" -> st.med("knn")(st.shuffleBytes),
      "ann.p50_ms" -> q("ann", 0.5) * 1e3,
      "ann.p90_ms" -> q("ann", 0.9) * 1e3,
      "ann.samples" -> n("ann"),
      "ann.recall_at_10" -> mean("ann_recall"),
      "ann.jobs_per_query" -> st.med("ann")(st.nJobs),
      "ann.driver_gap_ms" -> st.med("ann")(st.driverGapS) * 1e3,
      "ann.rows_scanned_per_result" -> st.med("ann")(st.inputRecords) / Standing.K,
      "erasure.repair_s" -> st.med("erase")(_.wallS),
      "erasure.jobs" -> st.med("erase")(st.nJobs),
      "erasure.cells_touched" -> Stats.median(erases.flatMap(note(_, "cells_touched"))),
      "erasure.rows_rewritten_per_erased" -> {
        val removed = erases.flatMap(note(_, "n_removed")).sum
        if (removed > 0) erases.flatMap(note(_, "n_before")).sum / removed else 0.0
      },
      "erasure.append_s" -> st.med("append")(_.wallS),
      "erasure.append_jobs" -> st.med("append")(st.nJobs),
      "erasure.driver_gap_s" -> Stats.median((erases ++ st.ops("append")).map(st.driverGapS)),
      "migration.cycle_s" -> q("migrate_cycle", 0.5),
      "migration.migrate_s" -> st.med("migrate")(_.wallS),
      "migration.rollback_s" -> st.med("rollback")(_.wallS),
      "migration.rollforward_s" -> st.med("rollforward")(_.wallS),
      "migration.jobs" -> st.med("migrate")(st.nJobs),
      "spark.jobs_per_round" -> timed.map(st.nJobs).sum / rounds,
      "spark.tasks_per_round" -> timed.map(st.tasks).sum / rounds,
      "spark.gc_s_per_round" -> timed.map(_.gcMs / 1e3).sum / rounds,
      "run.timed_rounds" -> ctx.timedRounds.toDouble,
      "run.error_rate" -> ctx.failed.toDouble / math.max(1L, ctx.attempted))
  }
}
