package perfbench

/** Seeded document text. Each document draws most of its tokens from one of
  * `Topics` disjoint word ranges and the rest from the whole vocabulary, so
  * the hashed embeddings form clusters that IVF cells can separate. Two
  * generators with the same seed produce the same sequence.
  */
final class TextGen(seed: Long) {
  private val rnd = new java.util.Random(seed)
  val Topics = 40
  val TopicWords = 150
  val Vocab = 8000

  private def word(i: Int): String = "w" + Integer.toString(i, 36)

  def nextInt(n: Int): Int = rnd.nextInt(n)

  def text(tokens: Int): String = {
    val topic = rnd.nextInt(Topics)
    val sb = new StringBuilder
    var i = 0
    while (i < tokens) {
      if (i > 0) sb.append(' ')
      val w = if (rnd.nextDouble() < 0.7) topic * TopicWords + rnd.nextInt(TopicWords) else rnd.nextInt(Vocab)
      sb.append(word(w))
      i += 1
    }
    sb.toString
  }

  /** An ordinary document: 60 to 199 tokens. */
  def doc(): String = text(60 + rnd.nextInt(140))

  /** A run of `n` tokens from `text`, starting at a random token. */
  def excerpt(text: String, n: Int): String = {
    val toks = text.split(" ")
    val from = rnd.nextInt(math.max(1, toks.length - n))
    toks.slice(from, from + n).mkString(" ")
  }
}
