package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Everything the benchmark feeds the engine comes
  * from here, derived from the workload seed alone, so the same seed gives
  * the same inputs whatever the engine's own fixtures or tools contain. */
object Gen {

  /** Clustered vectors (a mixture of isotropic Gaussians) plus held-out
    * queries drawn from the same mixture. Row `i` gets metadata shard
    * `i % shards`, so a typed equality filter on one shard keeps exactly
    * 1/shards of the rows. */
  final case class Vectors(rows: Array[Array[Float]], queries: Array[Array[Float]],
                           shard: Array[Int], centers: Array[Array[Float]],
                           params: Map[String, Any])

  def vectors(seed: Long, n: Int, dim: Int, clusters: Int, nQueries: Int,
              spread: Double, shards: Int): Vectors = {
    val rng = new SplittableRandom(seed * 7919L + 17L)
    val centers = Array.fill(clusters, dim)(gauss(rng))
    def draw(): Array[Float] = {
      val c = centers(rng.nextInt(clusters))
      Array.tabulate(dim)(j => (c(j) + spread * gauss(rng)).toFloat)
    }
    val rows = Array.fill(n)(draw())
    val queries = Array.fill(nQueries)(draw())
    Vectors(rows, queries, Array.tabulate(n)(_ % shards),
      centers.map(_.map(_.toFloat)),
      Map("kind" -> "gaussian_mixture", "seed" -> seed, "n" -> n,
        "dim" -> dim, "clusters" -> clusters, "queries" -> nQueries,
        "spread" -> spread, "shards" -> shards))
  }

  /** A generated document corpus with known duplication:
    *  - words drawn Zipf(`zipfS`) from a synthetic vocabulary of `vocab`
    *    distinct lowercase words, documents `minWords`..`maxWords` long;
    *  - `exactShare` of the documents are byte copies of an original,
    *    `nearShare` are copies with exactly one word replaced;
    *  - `quoteShare` of the originals quote a 20-word span of one of the
    *    `nEval` eval passages (the contamination check's targets).
    * Ids are a seeded permutation of 0 until n, so copies are not always
    * the larger id of their pair. `distinctTexts` is what exact dedup must
    * keep; `nearPairs` holds (copy id, source id) of every near copy. */
  final case class Corpus(docs: Array[(Long, String)], eval: Array[String],
                          distinctTexts: Int, nearPairs: Array[(Long, Long)],
                          exactPairs: Array[(Long, Long)], quoting: Set[Long],
                          params: Map[String, Any])

  final class Words(seed: Long, vocab: Int, zipfS: Double) {
    private val rng = new SplittableRandom(seed * 31L + 3L)
    val words: Array[String] = {
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < vocab) {
        val len = 2 + rng.nextInt(9)
        seen += new String(Array.fill(len)(('a' + rng.nextInt(26)).toChar))
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1.0, zipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def draw(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, vocab - 1))
    }
    def text(r: SplittableRandom, nWords: Int): Array[String] =
      Array.fill(nWords)(draw(r))
  }

  def corpus(seed: Long, n: Int, vocab: Int = 8000, zipfS: Double = 1.05,
             minWords: Int = 40, maxWords: Int = 400,
             exactShare: Double = 0.2, nearShare: Double = 0.1,
             nEval: Int = 16, quoteShare: Double = 0.01): Corpus = {
    val words = new Words(seed, vocab, zipfS)
    val rng = new SplittableRandom(seed * 104729L + 5L)
    val eval = Array.fill(nEval)(words.text(rng, 30).mkString(" "))
    val nExact = (n * exactShare).round.toInt
    val nNear = (n * nearShare).round.toInt
    val nOrig = n - nExact - nNear
    val ids = {
      val a = Array.tabulate(n)(_.toLong)
      var i = n - 1
      while (i > 0) {
        val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
      }
      a
    }
    val texts = new Array[String](n)
    val quoting = mutable.Set[Long]()
    var i = 0
    while (i < nOrig) {
      val body = words.text(rng, minWords + rng.nextInt(maxWords - minWords + 1))
      if (rng.nextDouble() < quoteShare) {
        val passage = eval(rng.nextInt(nEval)).split(" ")
        val at = rng.nextInt(body.length - 20)
        System.arraycopy(passage, 5, body, at, 20)
        quoting += ids(i)
      }
      texts(i) = body.mkString(" ")
      i += 1
    }
    val exactPairs = Array.tabulate(nExact) { j =>
      val src = rng.nextInt(nOrig)
      texts(nOrig + j) = texts(src)
      (ids(nOrig + j), ids(src))
    }
    val nearPairs = Array.tabulate(nNear) { j =>
      val src = rng.nextInt(nOrig)
      texts(nOrig + nExact + j) = oneWordEdit(texts(src), words, rng)
      (ids(nOrig + nExact + j), ids(src))
    }
    val docs = ids.zip(texts).sortBy(_._1)
    Corpus(docs, eval, texts.toSet.size, nearPairs, exactPairs, quoting.toSet,
      Map("kind" -> "zipf_corpus", "seed" -> seed, "n" -> n,
        "vocab" -> vocab, "zipf_s" -> zipfS, "min_words" -> minWords,
        "max_words" -> maxWords, "exact_share" -> exactShare,
        "near_share" -> nearShare, "eval_passages" -> nEval,
        "quote_share" -> quoteShare))
  }

  /** Replace one word with a different vocabulary word. */
  def oneWordEdit(text: String, words: Words, rng: SplittableRandom): String = {
    val w = text.split(" ")
    val at = rng.nextInt(w.length)
    var repl = words.draw(rng)
    while (repl == w(at)) repl = words.draw(rng)
    w(at) = repl
    w.mkString(" ")
  }

  /** An arriving batch: `n` documents with ids from `firstId`, half of them
    * one-word edits of corpus documents, half fresh originals. */
  def arriving(seed: Long, batch: Int, corpus: Corpus, n: Int, firstId: Long,
               vocab: Int = 8000, zipfS: Double = 1.05): Array[(Long, String)] = {
    val words = new Words(corpus.params("seed").asInstanceOf[Long], vocab, zipfS)
    val rng = new SplittableRandom(seed * 15485863L + batch)
    Array.tabulate(n) { j =>
      val text =
        if (j % 2 == 0)
          oneWordEdit(corpus.docs(rng.nextInt(corpus.docs.length))._2, words, rng)
        else words.text(rng, 40 + rng.nextInt(361)).mkString(" ")
      (firstId + j, text)
    }
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random's nextGaussian
    // would tie the inputs to another generator's state)
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}
