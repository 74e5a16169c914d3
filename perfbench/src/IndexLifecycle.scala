package perfbench

import graft.operators.AnnIndex
import graft.pipeline.{IndexErasure, IndexMigration}
import java.nio.file.Path
import scala.collection.mutable

/** Writes beside reads on the IVF-PQ index; no sync code runs, so a sync
  * optimisation must read "no change" here. One round erases ~0.1 % of the
  * ids (`IndexErasure.repairErased`, touched-cell assignment included) and
  * appends new vectors (`IndexErasure.appendRows`), each followed by a
  * single-query `AnnIndex.pqTopK` read (nprobe 4). Every `CycleEvery`-th
  * round, starting with the first, ends with a keep-old migration cycle
  * (`IndexMigration.migrate` → `rollback` → `rollForward`), so the rollback
  * replays a non-empty tombstone log. A rollback is a rare administrative
  * act, so the cycle weighs 1/`CycleEvery` in a round.
  * The writes load the commit path (staged swaps, file lock, dynamic
  * overwrite, tombstone log).
  */
object IndexLifecycle extends Workload {
  final class State(val built: Standing.Built, val client: Client)
  val EraseFrac = 0.001
  val AppendRows = 10
  val PoolSize = 400
  /** Rounds per migration cycle. A chosen weight: no traffic of this index
    * is recorded. The first timed round runs a cycle, so every run has one.
    */
  val CycleEvery = 4

  def store(st: State): Path = st.built.dir

  def setup(ctx: Ctx, seed: Long, dir: Path, small: Boolean): State = {
    val b = Standing.build(ctx.spark, seed, dir, small, poolSize = PoolSize)
    new State(b, new Client(ctx, b, seed))
  }

  val roundMix = Seq("erase" -> 1.0, "ann" -> 2.0, "append" -> 1.0) ++
    Seq("migrate", "rollback", "rollforward").map(_ -> 1.0 / CycleEvery)

  def round(ctx: Ctx, st: State): Unit = {
    val lc = st.client
    lc.erase(); lc.annRead()
    lc.append(); lc.annRead()
    if (lc.nextRound() % CycleEvery == 0) lc.migrateCycle()
  }

  /** The client's calls, each a timed op followed by its output checks. */
  final class Client(ctx: Ctx, st: Standing.Built, seed: Long) {
    private val spark = ctx.spark
    private val gen = new TextGen(seed ^ 0x5bd1e995L)
    val erased = mutable.LinkedHashSet.empty[String]
    private val everLive = mutable.LinkedHashMap.empty[String, Array[Double]] ++= st.live
    private var nextPool = 0
    private var qi = 0
    private var rounds = 0

    /** The index of the round about to run, from 0. */
    def nextRound(): Int = { rounds += 1; rounds - 1 }

    def vectorOf(id: String): Array[Double] = everLive(id)

    private def nextQuery(): Array[Double] = {
      qi += 1
      st.queries((qi - 1) % st.queries.length)
    }

    /** The index holds exactly the live rows. */
    def countErrors(id: Long, what: String): Unit = {
      val n = IndexErasure.readPartitioned(spark, st.annRoot, "cell").count()
      if (n != st.live.size) ctx.fail(id, s"$what: index holds $n rows, expected ${st.live.size}")
    }

    def annRead(query: Option[Array[Double]] = None): Unit = {
      val q = query.getOrElse(nextQuery())
      val (id, res) = ctx.op("ann")(Standing.annTopK(spark, st, q))
      res.foreach { r =>
        ctx.check(id, Checks.annErrors(r, st.live, erased, Standing.K))
        ctx.observe("ann_recall", Standing.recall(r, st, q))
      }
    }

    /** Erases ~0.1 % of the live ids; returns them. */
    def erase(): Seq[String] = {
      val n = math.max(1, math.round(st.live.size * EraseFrac).toInt)
      val keys = st.live.keys.toIndexedSeq
      val ids = mutable.LinkedHashSet.empty[String]
      while (ids.size < n) ids += keys(gen.nextInt(keys.size))
      val tomb = Standing.vectorsDf(spark, ids.toSeq.map(i => i -> st.live(i)))
      val (id, res) = ctx.op("erase") {
        val touched = AnnIndex.ivfAssignTrained(tomb, "id", "embedding", st.cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq
        val manifest = IndexErasure.repairErased(spark, st.annRoot, "cell", touched, "id", tomb.select("id"))
          .collect().map(r => (r.getLong(1), r.getLong(2)))
        (touched.size, manifest)
      }
      ids.foreach { i => st.live.remove(i); erased += i }
      res.foreach { case (cells, manifest) =>
        val removed = manifest.map(_._2).sum
        if (removed != n) ctx.fail(id, s"repair removed $removed rows, expected $n")
        ctx.note(id, "cells_touched", cells.toDouble)
        ctx.note(id, "n_before", manifest.map(_._1).sum.toDouble)
        ctx.note(id, "n_removed", removed.toDouble)
      }
      if (res.isDefined) countErrors(id, "after erase")
      ids.toSeq
    }

    def append(): Unit = {
      val rows = (0 until AppendRows).map(i => st.pool((nextPool + i) % st.pool.length))
        .map { case (i, v) => (s"$i-$nextPool", v) }
      nextPool += AppendRows
      val (id, res) = ctx.op("append") {
        IndexErasure.appendRows(spark, st.annRoot, "cell", "id",
          Standing.encode(Standing.vectorsDf(spark, rows), st.cents, st.codebooks))
      }
      rows.foreach { case (i, v) => st.live(i) = v; everLive(i) = v }
      if (res.isDefined) countErrors(id, "after append")
    }

    /** migrate → rollback → rollForward; the quantizer the reads and writes
      * use follows the live generation. Generations older than the one a
      * rollback would restore are removed, as a retention policy would.
      */
    def migrateCycle(): Unit = {
      val before = (st.cents, st.codebooks)
      val v0 = IndexMigration.version(spark, st.annRoot)
      // erased ids stay in the corpus: migrate must drop them itself
      val corpus = Standing.vectorsDf(spark, everLive)
      val (mid, mig) = ctx.op("migrate") {
        IndexMigration.migrate(spark, st.annRoot, corpus, "id", "embedding",
          Standing.Nlist, Standing.M, Standing.Ksub, Standing.Dim, keepOld = true)
      }
      mig.foreach { m =>
        if (m.versionAfter != v0 + 1) ctx.fail(mid, s"migrate reached v${m.versionAfter}, expected v${v0 + 1}")
        if (m.nCorpus != st.live.size) ctx.fail(mid, s"migrate kept ${m.nCorpus} rows, expected ${st.live.size}")
        st.cents = m.cents; st.codebooks = m.codebooks
      }
      val after = (st.cents, st.codebooks)
      val (rid, rb) = ctx.op("rollback")(IndexMigration.rollback(spark, st.annRoot, "cell", "id"))
      rb.foreach { v =>
        if (v != v0) ctx.fail(rid, s"rollback reached v$v, expected v$v0")
        st.cents = before._1; st.codebooks = before._2
      }
      val (fid, rf) = ctx.op("rollforward")(IndexMigration.rollForward(spark, st.annRoot, "cell", "id"))
      rf.foreach { v =>
        if (v != v0 + 1) ctx.fail(fid, s"rollForward reached v$v, expected v${v0 + 1}")
        st.cents = after._1; st.codebooks = after._2
        countErrors(fid, "after rollForward")
      }
      val cycle = Seq(mid, rid, fid).flatMap(ctx.wall.get)
      if (cycle.size == 3) ctx.observe("migrate_cycle", cycle.sum)
      val keep = IndexMigration.version(spark, st.annRoot) - 1
      (1L until keep).foreach(v => Main.deleteTree(Path.of(st.annRoot + s".retired-v$v")))
    }
  }
}
