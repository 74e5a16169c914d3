package perfbench

import graft.pipeline.{Embedder, VectorIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Output checks. Each returns the list of errors it found; a run counts an
  * op with any error as failed.
  */
object Checks {
  /** The program orders by scores floor-rounded to 6 decimals, and floating
    * sums may differ from the driver's in the last bits: ids whose exact
    * score lies this close to the k-th best are interchangeable.
    */
  val Eps = 2e-6

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) Double.NaN else dot / math.sqrt(na * nb)
  }

  /** All ids ranked by exact cosine to `q`, best first, ties by id. */
  def ranked(vecs: Iterable[(String, Array[Double])], q: Array[Double]): Vector[(String, Double)] =
    vecs.iterator.map { case (id, v) => id -> cosine(q, v) }.filterNot(_._2.isNaN).toVector
      .sortBy { case (id, s) => (-s, id) }

  /** The driver-side exact top-k ids. */
  def exactTopK(vecs: Iterable[(String, Array[Double])], q: Array[Double], k: Int): Seq[String] =
    ranked(vecs, q).take(k).map(_._1)

  /** Errors of a brute-force top-k result against the exact ranking. */
  def topKErrors(result: Seq[String], vecs: Iterable[(String, Array[Double])],
                 q: Array[Double], k: Int): Seq[String] = {
    val r = ranked(vecs, q)
    val want = math.min(k, r.size)
    if (want == 0) return if (result.isEmpty) Nil else Seq("results from an empty index")
    val kth = r(want - 1)._2
    val must = r.takeWhile(_._2 > kth + Eps).map(_._1)
    val may = r.takeWhile(_._2 >= kth - Eps).map(_._1).toSet
    Seq(
      if (result.size != want) Some(s"top-k returned ${result.size} rows, expected $want") else None,
      if (result.distinct.size != result.size) Some("top-k returned a duplicate id") else None,
      must.find(id => !result.contains(id)).map(id => s"top-k misses $id"),
      result.find(id => !may.contains(id)).map(id => s"top-k returned $id, not in the exact top-$k")
    ).flatten
  }

  /** Errors of an approximate result: size, only live ids, no erased id. */
  def annErrors(result: Seq[String], live: collection.Map[String, _], erased: collection.Set[String],
                k: Int): Seq[String] =
    Seq(
      if (result.size != math.min(k, live.size)) Some(s"ANN returned ${result.size} rows, expected $k") else None,
      result.find(erased.contains).map(id => s"ANN returned erased id $id"),
      result.find(id => !live.contains(id) && !erased.contains(id)).map(id => s"ANN returned unknown id $id")
    ).flatten

  /** Embeddings of `texts` by `embedder`, computed by the program. */
  def embed(spark: SparkSession, embedder: Embedder,
            texts: collection.Map[String, String]): Map[String, Seq[Double]] = {
    import spark.implicits._
    if (texts.isEmpty) Map.empty
    else texts.toSeq.toDF("id", "text").select(col("id"), embedder.embed(col("text")))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
  }

  /** The vector index after a sync: exactly the expected ids, each at its
    * expected version (the file's mtime) and with the expected vector (the
    * embedder applied to the file's current text).
    */
  def syncIndex(spark: SparkSession, index: VectorIndex,
                versions: collection.Map[String, Long],
                vectors: collection.Map[String, Seq[Double]]): Seq[String] = {
    val rows = index.read(spark).select("id", "version", "embedding").collect()
    val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Double](2))).toMap
    val missing = versions.keys.filterNot(got.contains)
    val extra = got.keys.filterNot(versions.contains)
    val badVersion = versions.collect { case (id, v) if got.get(id).exists(_._1 != v) => id }
    val badVector = vectors.collect { case (id, v) if got.get(id).exists(_._2 != v) => id }
    Seq(
      if (rows.length != got.size) Some("index holds a duplicate id") else None,
      missing.headOption.map(id => s"index misses ${missing.size} ids, e.g. $id"),
      extra.headOption.map(id => s"index holds ${extra.size} unexpected ids, e.g. $id"),
      badVersion.headOption.map(id => s"${badVersion.size} ids at a stale version, e.g. $id"),
      badVector.headOption.map(id => s"${badVector.size} vectors differ from their text's embedding, e.g. $id")
    ).flatten
  }
}
