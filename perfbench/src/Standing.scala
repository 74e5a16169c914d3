package perfbench

import graft.operators.AnnIndex
import graft.pipeline.{HashingEmbedder, IndexErasure}
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The standing IVF-PQ index `index_lifecycle` runs against: seeded
  * documents embedded by the program's embedder, coarse centroids and PQ
  * codebooks trained on them, and the encoded rows written partitioned by
  * cell. The index parameters are those of the registered lifecycle queries
  * (nlist 32, m 16, ksub 16).
  */
object Standing {
  val Vectors = 1000 // 100 in the warm-up
  val Dim = 64
  val Nlist = 32
  val M = 16
  val Ksub = 16
  val Nprobe = 4
  val K = 10
  val TrainIters = 1
  val Queries = 256
  val QueryTokens = 20

  final class Built(val dir: Path, val annRoot: String,
                    val queries: Array[Array[Double]], val pool: Array[(String, Array[Double])]) {
    /** Live ids and their raw vectors, as the driver expects them. */
    val live = mutable.LinkedHashMap.empty[String, Array[Double]]
    var cents: Array[Seq[Double]] = Array.empty
    var codebooks: Array[Array[Seq[Double]]] = Array.empty
  }

  /** (id, cell, __codes) rows of `vectors` under the given quantizer. */
  def encode(vectors: DataFrame, cents: Array[Seq[Double]], cbs: Array[Array[Seq[Double]]]): DataFrame =
    AnnIndex.pqEncodedCorpus(vectors, "id", "embedding", M, Ksub, Dim, Nlist, Some(cbs), Some(cents))
      .select(col("id"), col("__cell").cast("long").as("cell"), col("__codes"))

  def vectorsDf(spark: SparkSession, rows: Iterable[(String, Array[Double])]): DataFrame = {
    import spark.implicits._
    rows.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("id", "embedding")
  }

  /** Writes the index under `dir`; `poolSize` extra vectors are kept for
    * appends.
    */
  def build(spark: SparkSession, seed: Long, dir: Path, small: Boolean, poolSize: Int): Built = {
    import spark.implicits._
    val gen = new TextGen(seed)
    val embedder = HashingEmbedder(Dim)
    val n = if (small) Vectors / 10 else Vectors
    val docs = (0 until n).map(i => (f"doc-$i%06d", gen.doc()))
    val excerpts = (0 until Queries).map(i => (f"q-$i%04d", gen.excerpt(docs(gen.nextInt(n))._2, QueryTokens)))
    val fresh = (0 until poolSize).map(i => (f"new-$i%06d", gen.doc()))
    val vecs = (docs ++ excerpts ++ fresh).toDF("id", "text")
      .select(col("id"), embedder.embed(col("text")).as("v")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val b = new Built(dir, dir.resolve("ann").toString,
      excerpts.map(e => vecs(e._1)).toArray, fresh.map(f => f._1 -> vecs(f._1)).toArray)
    docs.foreach { case (id, _) => b.live(id) = vecs(id) }
    val stored = vectorsDf(spark, b.live).cache()
    b.cents = AnnIndex.kmeansCentroids(stored, "embedding", "id", Nlist, TrainIters)
    b.codebooks = AnnIndex.pqTrainCodebooks(stored, "id", "embedding", M, Ksub, Dim, TrainIters)
    IndexErasure.ensurePartitioned(spark, b.annRoot, "cell")(encode(stored, b.cents, b.codebooks))
    stored.unpersist()
    b
  }

  /** One single-query IVF-PQ top-k against the live partitioned index. */
  def annTopK(spark: SparkSession, b: Built, q: Array[Double]): Seq[String] = {
    import spark.implicits._
    val enc = IndexErasure.readPartitioned(spark, b.annRoot, "cell")
      .select(col("id"), col("cell").cast("int").as("__cell"), col("__codes"))
    AnnIndex.pqTopK(Seq((0L, q.toSeq)).toDF("qid", "qv"), "qid", "qv", enc, "id", "embedding",
      k = K, m = M, ksub = Ksub, dim = Dim, nlist = Nlist, nprobe = Nprobe, excludeSelf = false,
      codebooks = Some(b.codebooks), coarseCentroids = Some(b.cents), encoded = Some(enc))
      .orderBy("rn").collect().map(_.getString(1)).toSeq
  }

  /** Recall@K of an ANN result against the driver's exact top-K. */
  def recall(result: Seq[String], b: Built, q: Array[Double]): Double = {
    val exact = Checks.exactTopK(b.live, q, K).toSet
    if (exact.isEmpty) 1.0 else result.count(exact.contains).toDouble / exact.size
  }
}
