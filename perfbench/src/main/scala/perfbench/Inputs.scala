package perfbench

import java.util.Random

/** Seeded input generators and the benchmark's own exact answers.
  * Nothing here calls the engine: ground truth comes from a plain
  * Scala scan, so recall and the output checks never grade the engine
  * against itself.
  */
object Inputs {

  val Dim = 64

  /** Dense vector table: vector `i` has id `firstId + i`. */
  final case class Vectors(firstId: Long, data: Array[Array[Float]]) {
    def size: Int = data.length
    def id(i: Int): Long = firstId + i
  }

  /** Blob centres for clustered vectors: `blobs` points in
    * [-spread, spread]^dim, like the cluster structure of real
    * embeddings (not hash-uniform noise).
    */
  def centres(rng: Random, blobs: Int, spread: Double): Array[Array[Float]] =
    Array.fill(blobs)(Array.fill(Dim)(((rng.nextDouble() * 2 - 1) * spread).toFloat))

  /** `n` points, each a centre plus N(0, sigma) per dimension. Point
    * `i` belongs to blob `i % blobs`, so every blob gets the same share
    * and the seed moves the geometry, not the cluster sizes (which set
    * IVF probe cost).
    */
  def clustered(rng: Random, centres: Array[Array[Float]], n: Int, firstId: Long,
                sigma: Double): Vectors =
    Vectors(firstId, Array.tabulate(n) { i =>
      val c = centres(i % centres.length)
      Array.tabulate(Dim)(d => (c(d) + rng.nextGaussian() * sigma).toFloat)
    })

  /** L2 distance with the engine's arithmetic: float elements widened
    * to double, accumulated in element order, then the square root.
    */
  def l2(v: Array[Float], q: Array[Float]): Double = {
    var s = 0.0
    var j = 0
    while (j < v.length) { val d = v(j).toDouble - q(j).toDouble; s += d * d; j += 1 }
    math.sqrt(s)
  }

  /** Exact top-k ids of `q` over every vector of `tables`, ordered by
    * (distance, id): a bounded insertion scan.
    */
  def exactTopK(tables: Seq[Vectors], q: Array[Float], k: Int): Array[Long] = {
    val ds = Array.fill(k)(Double.MaxValue)
    val ids = Array.fill(k)(Long.MaxValue)
    for (t <- tables) {
      var i = 0
      while (i < t.size) {
        val d = l2(t.data(i), q)
        val id = t.id(i)
        if (d < ds(k - 1) || (d == ds(k - 1) && id < ids(k - 1))) {
          var j = k - 1
          while (j > 0 && (d < ds(j - 1) || (d == ds(j - 1) && id < ids(j - 1)))) {
            ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1
          }
          ds(j) = d; ids(j) = id
        }
        i += 1
      }
    }
    ids
  }

  /** [[exactTopK]] for many queries, spread over the machine's cores. */
  def exactTopKAll(tables: Seq[Vectors], qs: Array[Array[Float]], k: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](qs.length)
    java.util.stream.IntStream.range(0, qs.length).parallel()
      .forEach(i => out(i) = exactTopK(tables, qs(i), k))
    out
  }

  // ------------------------------------------------------------------
  // Curation corpus
  // ------------------------------------------------------------------

  private val Vocab = ("the quick brown fox jumps over lazy dog table scan merge sort join " +
    "filter group window batch stream row value data key order hash part small fast slow " +
    "query spark line customer index cache disk memory block shard range probe").split(" ")

  val WordsPerDoc = 40
  val Sources = 8

  /** Planted duplicates: doc `i` with `i % 20 == 1` is a near duplicate
    * of doc `i - 1` (same words plus one), and doc `i` with
    * `i % 30 == 2` is a byte-identical copy of doc `i - 2`. The two
    * rules never pick the same doc and never chain, so a correct
    * curation keeps exactly the docs that are neither.
    */
  def isNearDup(i: Long): Boolean = i % 20 == 1
  def isExactDup(i: Long): Boolean = i % 30 == 2
  def source(i: Long): String = s"src${i % Sources}"

  /** `(doc_id, text, source)` rows: 40 words per doc, each a vocabulary
    * word with a random numeric suffix (~150k distinct tokens), so
    * unrelated docs share no 3-word shingles.
    */
  def corpus(rng: Random, n: Int): Array[(Long, String, String)] = {
    val texts = new Array[String](n)
    var i = 0
    while (i < n) {
      texts(i) =
        if (isNearDup(i)) texts(i - 1) + " extensionword"
        else if (isExactDup(i)) texts(i - 2)
        else Array.fill(WordsPerDoc)(Vocab(rng.nextInt(Vocab.length)) + rng.nextInt(4096))
          .mkString(" ")
      i += 1
    }
    Array.tabulate(n)(j => (j.toLong, texts(j), source(j)))
  }

  /** Per-source kept-doc counts of a correct curation of [[corpus]]. */
  def expectedKept(n: Int): Map[String, Long] =
    (0L until n).filterNot(i => isNearDup(i) || isExactDup(i))
      .groupBy(source).map { case (s, ids) => s -> ids.size.toLong }
}
