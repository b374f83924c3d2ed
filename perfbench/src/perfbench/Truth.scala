package perfbench

/** The benchmark's own brute-force k-NN, ranked exactly as the engine ranks:
  * cosine distance accumulated in double over float32 elements, rounded to
  * 6 decimals half-up, ties broken by the chunk id string. */
object Truth {

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0d; var na = 0.0d; var nb = 0.0d; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val d1 = math.sqrt(na); val d2 = math.sqrt(nb)
    if (d1 == 0.0d || d2 == 0.0d) Double.PositiveInfinity
    else 1.0d - dot / (d1 * d2)
  }

  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0d

  def distance(a: Array[Float], b: Array[Float]): Double = round6(cosine(a, b))

  /** Row index -> chunk id; zero-padded so string order is index order. */
  def chunkId(prefix: String, i: Int): String = f"$prefix%s-c$i%07d"

  def rowOf(chunkId: String): Int = chunkId.substring(chunkId.length - 7).toInt

  /** Exact top-k row indices of `q` among the rows `allowed` admits, in
    * ascending (distance, index) order. */
  def topK(rows: Array[Array[Float]], q: Array[Float], k: Int,
           allowed: Int => Boolean = _ => true): Array[Int] = {
    val heap = scala.collection.mutable.PriorityQueue[(Double, Int)]()
    var i = 0
    while (i < rows.length) {
      if (allowed(i)) {
        val d = distance(rows(i), q)
        if (heap.size < k) heap.enqueue(d -> i)
        else if (Ordering[(Double, Int)].lt(d -> i, heap.head)) {
          heap.dequeue(); heap.enqueue(d -> i)
        }
      }
      i += 1
    }
    heap.dequeueAll[(Double, Int)].reverse.map(_._2).toArray
  }
}
