package perfbench

import graft.functions.TextFunctions
import graft.operators.TopK
import graft.pipeline.{Delta, FileScan, HashingEmbedder, StateStore, Sync, VectorIndex}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The hourly cron product: a corpus of `.md` files kept in sync with the
  * vector index, which is then searched. Set-up writes the corpus, embeds
  * seeded query excerpts and runs the first full `Sync.run`, the standing
  * build; that sync's output check runs after the set-up timer stops. Each
  * round churns the files (1 % edited, 0.2 % deleted, 0.2 % added), runs
  * `Sync.run`, serves two single-query `TopK.topK` requests and one
  * 64-query `TopK.knnJoin` batch from the fresh index, and ends with a no-op
  * `Sync.run` over the unchanged tree. No query traffic of the hourly job is
  * recorded anywhere, so the read counts are a chosen weight: they keep the
  * serving layers in every round at about a sixth of its latency.
  */
object SyncChurn extends Workload {
  val Docs = 600           // in-guard .md files (60 in the warm-up)
  val Dirs = 64
  val LongDocs = 3         // over the 8,191-token guard
  val LongTokens = 8300
  val MaxTokens = 8191
  val T0 = 1600000000L     // epoch seconds; Sync compares whole seconds with a strict >
  val K = 10
  val Batch = 64
  val Queries = 256

  final class State(val corpus: Path, val storeDir: Path, val gen: TextGen) {
    val embedder = HashingEmbedder(64)
    val sync = new Sync(corpus.toString, storeDir.resolve("state").toString,
      storeDir.resolve("index").toString, embedder, maxTokens = MaxTokens)
    val index = new VectorIndex(storeDir.resolve("index").toString, embedder.dim, Some(embedder.id))
    /** Live in-guard .md files: index id -> (text, mtime). */
    val live = mutable.LinkedHashMap.empty[String, (String, Long)]
    val paths = mutable.ArrayBuffer.empty[Path] // the same files, for random picks
    /** The vector each live id should have, from the program's embedder. */
    val want = mutable.HashMap.empty[String, Seq[Double]]
    var clock = 0L
    var nextDoc = 0
    var queries: Array[Array[Double]] = Array.empty
    var nextQuery = 0
    /** The set-up's full sync, checked by `checkSetup`. */
    var fullSync: (Long, Option[Sync#Report]) = (0L, None)
    def query(): Array[Double] = { nextQuery += 1; queries((nextQuery - 1) % queries.length) }
  }

  def store(st: State): Path = st.storeDir

  /** The id Sync gives a file: its URI as the binaryFile source lists it. */
  private def idOf(p: Path): String = "file:" + p.toAbsolutePath.toString

  private def write(p: Path, text: String, mtime: Long): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtime * 1000L))
  }

  private def newDoc(st: State, mtime: Long): (Path, String) = {
    val i = st.nextDoc
    st.nextDoc += 1
    val p = st.corpus.resolve(f"d${i % Dirs}%02d").resolve(f"doc-$i%06d.md")
    val text = st.gen.doc()
    write(p, text, mtime)
    st.live(idOf(p)) = (text, mtime)
    st.paths += p
    (p, text)
  }

  def setup(ctx: Ctx, seed: Long, dir: Path, small: Boolean): State = {
    val st = new State(dir.resolve("corpus"), dir.resolve("store"), new TextGen(seed))
    Files.createDirectories(st.storeDir)
    val docs = if (small) 60 else Docs
    (0 until docs).foreach(_ => newDoc(st, T0))
    (0 until LongDocs).foreach { i =>
      write(st.corpus.resolve(f"d${i % Dirs}%02d").resolve(f"long-$i%03d.md"), st.gen.text(LongTokens), T0)
    }
    // ~1 % non-.md files, which the path filter drops
    (0 until math.max(1, docs / 100)).foreach { i =>
      write(st.corpus.resolve(f"d${i % Dirs}%02d").resolve(f"note-$i%03d.txt"), st.gen.doc(), T0)
    }
    val texts = st.live.values.map(_._1).toIndexedSeq
    val excerpts = (0 until Queries).map(i => f"q-$i%04d" -> st.gen.excerpt(texts(st.gen.nextInt(texts.size)), 20)).toMap
    val vecs = Checks.embed(ctx.spark, st.embedder, excerpts)
    st.queries = excerpts.keys.toSeq.sorted.map(k => vecs(k).toArray).toArray
    st.fullSync = ctx.op("sync_full")(st.sync.run(ctx.spark))
    st
  }

  override def checkSetup(ctx: Ctx, st: State): Unit = {
    val (id, rep) = st.fullSync
    checkSync(ctx, st, id, rep, st.live.map { case (k, v) => k -> v._1 }.toMap, 0, LongDocs)
  }

  private def expectedVersions(st: State): Map[String, Long] = st.live.map { case (k, v) => k -> v._2 }.toMap

  /** One Sync.run as a timed op, with its report and the index checked. */
  private[perfbench] def syncOp(ctx: Ctx, st: State, name: String, changed: Map[String, String],
                     nDeleted: Int, nTooLong: Int): Unit = {
    val (id, rep) = ctx.op(name)(st.sync.run(ctx.spark))
    checkSync(ctx, st, id, rep, changed, nDeleted, nTooLong)
  }

  private def checkSync(ctx: Ctx, st: State, id: Long, rep: Option[Sync#Report], changed: Map[String, String],
                        nDeleted: Int, nTooLong: Int): Unit = {
    rep.foreach { r =>
      ctx.span("check") {
        ctx.check(id, Seq(
          if (r.changed != changed.size + nTooLong) Some(s"report.changed ${r.changed}, expected ${changed.size + nTooLong}") else None,
          if (r.indexed != changed.size) Some(s"report.indexed ${r.indexed}, expected ${changed.size}") else None,
          if (r.skippedTooLong != nTooLong) Some(s"report.skippedTooLong ${r.skippedTooLong}, expected $nTooLong") else None,
          if (r.deleted != nDeleted) Some(s"report.deleted ${r.deleted}, expected $nDeleted") else None
        ).flatten)
        st.want --= st.want.keys.filterNot(st.live.contains)
        st.want ++= Checks.embed(ctx.spark, st.embedder, changed)
        ctx.check(id, Checks.syncIndex(ctx.spark, st.index, expectedVersions(st), st.want))
      }
    }
    ctx.note(id, "changed_bytes", changed.values.map(_.getBytes(UTF_8).length.toDouble).sum)
    ctx.note(id, "changed_and_deleted", (changed.size + nDeleted).toDouble)
    ctx.note(id, "files_written", Main.dataFiles(st.storeDir.resolve("index")).toDouble)
  }

  /** Edits 1 %, deletes 0.2 % and adds 0.2 % of the live files, all at a
    * new whole-second mtime; returns the changed texts and the deletions.
    */
  private[perfbench] def churn(st: State): (Map[String, String], Int) = {
    st.clock += 1
    val mtime = T0 + st.clock
    val n = st.paths.size
    val nEdit = math.max(1, math.round(n * 0.01).toInt)
    val nSmall = math.max(1, math.round(n * 0.002).toInt)
    val picks = mutable.LinkedHashSet.empty[Int]
    while (picks.size < nEdit + nSmall) picks += st.gen.nextInt(n)
    val (editIdx, delIdx) = picks.toSeq.splitAt(nEdit)
    val changed = mutable.LinkedHashMap.empty[String, String]
    editIdx.foreach { i =>
      val p = st.paths(i)
      val text = st.gen.doc()
      write(p, text, mtime)
      st.live(idOf(p)) = (text, mtime)
      changed(idOf(p)) = text
    }
    delIdx.sorted.reverse.foreach { i =>
      val p = st.paths.remove(i)
      Files.delete(p)
      st.live.remove(idOf(p))
    }
    (0 until nSmall).foreach { _ =>
      val (p, text) = newDoc(st, mtime)
      changed(idOf(p)) = text
    }
    (changed.toMap, delIdx.size)
  }

  val roundMix = Seq("resync" -> 1.0, "search" -> 2.0, "knn" -> 1.0, "noop_sync" -> 1.0)

  def round(ctx: Ctx, st: State): Unit = {
    val (changed, nDel) = ctx.span("churn")(churn(st))
    syncOp(ctx, st, "resync", changed, nDel, 0)
    search(ctx, st); search(ctx, st); knnBatch(ctx, st)
    syncOp(ctx, st, "noop_sync", Map.empty, 0, 0)
  }

  private def indexed(st: State): Seq[(String, Array[Double])] =
    st.want.toSeq.map { case (id, v) => id -> v.toArray }

  private def search(ctx: Ctx, st: State): Unit = {
    val spark = ctx.spark
    val q = st.query()
    val (id, res) = ctx.op("search") {
      TopK.topK(st.index.read(spark), "embedding", "id", q.toSeq, K)
        .select("id").collect().map(_.getString(0)).toSeq
    }
    res.foreach(r => ctx.check(id, Checks.topKErrors(r, indexed(st), q, K)))
  }

  private def knnBatch(ctx: Ctx, st: State): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val batch = (0 until Batch).map(i => i.toLong -> st.query())
    val (id, res) = ctx.op("knn") {
      TopK.knnJoin(batch.map { case (i, v) => (i, v.toSeq) }.toDF("qid", "qv"), "qid", "qv",
        st.index.read(spark), "id", "embedding", K, excludeSelf = false)
        .select("qid", "id", "rn").collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    }
    res.foreach { rows =>
      val byQ = rows.groupBy(_._1)
      val vecs = indexed(st)
      ctx.check(id, batch.flatMap { case (i, v) =>
        Checks.topKErrors(byQ.getOrElse(i, Nil).sortBy(_._3).map(_._2), vecs, v, K).map(e => s"query $i: $e")
      }.take(3))
    }
  }

  override def probes(ctx: Ctx, st: State): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val root = st.corpus.toString
    val texts = st.live.values.map(_._1).toSeq.toDF("text").cache()
    texts.count()
    for (_ <- 1 to 3) {
      ctx.op("probe.scan")(FileScan.scan(spark, root).select("path", "mtime").count())
      ctx.op("probe.delta") {
        val scan = FileScan.scan(spark, root)
        val state = new StateStore(st.storeDir.resolve("state").toString).read(spark)
        Delta.changed(scan, state).count() + Delta.deleted(scan.select("path", "mtime"), state).count()
      }
      val (id, _) = ctx.op("probe.embed") {
        texts.select(st.embedder.embed(col("text")).as("e"), TextFunctions.tokenCount(col("text")).as("n"))
          .agg(sum(element_at(col("e"), 1)), sum(col("n"))).collect()
      }
      ctx.note(id, "docs", st.live.size.toDouble)
    }
    texts.unpersist()
  }
}
