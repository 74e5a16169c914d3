package perfbench

import graft.pipeline.IndexErasure
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

/** Proves the output checks can fail: each case runs clean ops (which must
  * pass), corrupts one output the way a defect would, and asserts the next
  * checked op is counted as failed.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  /** `clean`: ops failed by this case before its corruption. */
  private def expect(name: String, ctx: Ctx, clean: Long, corrupt: => Unit): Boolean = {
    val before = ctx.failed
    corrupt
    val ok = clean == 0 && ctx.failed > before
    System.err.println(s"[selftest] $name: clean ops failed=$clean, " +
      s"after corruption failed=${ctx.failed - before} -> ${if (ok) "ok" else "NOT DETECTED"}")
    ok
  }

  /** A stale vector restored for an edited file is caught by the next sync's check. */
  private def staleVector(ctx: Ctx, dir: Path): Boolean = {
    val spark = ctx.spark
    import spark.implicits._
    val start = ctx.failed
    val st = SyncChurn.setup(ctx, 7L, dir, small = true)
    SyncChurn.checkSetup(ctx, st)
    val old = st.live.map { case (k, v) => k -> v._1 }.toMap
    val (changed, nDel) = SyncChurn.churn(st)
    SyncChurn.syncOp(ctx, st, "resync", changed, nDel, 0)
    val clean = ctx.failed - start
    expect("restored pre-edit vector", ctx, clean, {
      val victim = changed.keys.find(old.contains).get
      val stale = Checks.embed(spark, st.embedder, Map(victim -> old(victim)))(victim)
      st.index.delete(Seq(victim).toDF("id"))
      st.index.upsert(Seq((victim, stale, st.live(victim)._2)).toDF("id", "embedding", "version")
        .select(col("id"), col("embedding"), map().cast("map<string,string>").as("metadata"), col("version")))
      SyncChurn.syncOp(ctx, st, "noop_sync", Map.empty, 0, 0)
    })
  }

  /** A brute-force result with one id swapped for a far one fails the exact check. */
  private def wrongTopK(ctx: Ctx, st: Standing.Built): Boolean = {
    val q = st.queries(0)
    val exact = Checks.exactTopK(st.live, q, Standing.K)
    val far = Checks.ranked(st.live, q).last._1
    val clean = Checks.topKErrors(exact, st.live, q, Standing.K).size.toLong
    expect("top-k with a wrong id", ctx, clean, {
      val (id, _) = ctx.op("search")(())
      ctx.check(id, Checks.topKErrors(exact.init :+ far, st.live, q, Standing.K))
    })
  }

  /** An erased id written back into its cell is caught by the count check
    * and by the ANN check when a read returns it.
    */
  private def reinsertedErased(ctx: Ctx, st: Standing.Built): Boolean = {
    val spark = ctx.spark
    val start = ctx.failed
    val lc = new IndexLifecycle.Client(ctx, st, 7L)
    val gone = lc.erase()
    lc.annRead()
    val clean = ctx.failed - start
    expect("re-inserted erased id", ctx, clean, {
      val victim = gone.head
      val row = Standing.encode(Standing.vectorsDf(spark, Seq(victim -> lc.vectorOf(victim))), st.cents, st.codebooks)
      val cell = row.select("cell").head().getLong(0)
      row.drop("cell").write.mode("append").parquet(s"${st.annRoot}/cell=$cell")
      lc.annRead(Some(lc.vectorOf(victim)))
      val (id, _) = ctx.op("count")(())
      lc.countErrors(id, "after corruption")
    })
  }

  def run(out: Path): Int = {
    val spark = Main.session()
    Files.createDirectories(out.resolve("runs"))
    val work = Files.createTempDirectory(out.resolve("runs"), "selftest-")
    try {
      val ctx = new Ctx(spark, None)
      val st = Standing.build(spark, 7L, work.resolve("standing"), small = true, poolSize = 20)
      val results = Seq(staleVector(ctx, work.resolve("sync")), wrongTopK(ctx, st), reinsertedErased(ctx, st))
      val ok = results.forall(identity)
      System.err.println(s"[selftest] ${if (ok) "all corruptions detected" else "FAILED"}")
      if (ok) 0 else 1
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
  }
}
