package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every workload input is a pure function of
  * (seed, spec): the same seed gives byte-identical inputs, and the engine
  * only ever sees the generated rows.
  */
object Gen {

  /** One token-table row before it becomes a DataFrame. */
  final case class Doc(id: Long, tokens: Array[Int], source: String)

  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  /** Fisher-Yates permutation of [0, n). */
  def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Zipf(s) over `vocab` ranks; rank k maps to a seeded permuted token id,
    * so frequent tokens are spread over the whole id range the way a BPE
    * vocabulary's are, not packed at the low ids.
    */
  final class Zipf(vocab: Int, s: Double, r: SplittableRandom) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](vocab)
      var acc = 0.0
      var k = 0
      while (k < vocab) { acc += math.pow(k + 1.0, -s); c(k) = acc; k += 1 }
      k = 0
      while (k < vocab) { c(k) /= acc; k += 1 }
      c
    }
    private val idOf = permutation(vocab, r)
    def next(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      idOf(math.min(vocab - 1, if (i >= 0) i else -i - 1))
    }
  }

  /** Document lengths: log-normal (median `median`, shape `sigma`),
    * clipped to [minLen, maxLen].
    */
  final case class Lengths(median: Double, sigma: Double, minLen: Int, maxLen: Int) {
    def next(r: SplittableRandom): Int =
      math.max(minLen, math.min(maxLen, math.round(median * math.exp(sigma * gaussian(r))).toInt))
  }

  def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; one draw per call keeps the stream position simple
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Token docs with ids `firstId + permutation` (shuffled arrival order),
    * generated until at least `minTokens` tokens and at most `maxTokens`
    * (a doc that would overflow `maxTokens` ends the batch).
    */
  def tokenDocs(
      r: SplittableRandom, zipf: Zipf, lens: Lengths, firstId: Long,
      minTokens: Long, maxTokens: Long, source: SplittableRandom => String): Array[Doc] = {
    val out = Array.newBuilder[Array[Int]]
    var total = 0L
    var done = false
    while (!done) {
      val n = lens.next(r)
      if (total + n > maxTokens) done = true
      else {
        out += Array.fill(n)(zipf.next(r))
        total += n
        if (total >= minTokens) done = true
      }
    }
    val toks = out.result()
    val order = permutation(toks.length, r)
    Array.tabulate(toks.length)(i => Doc(firstId + order(i), toks(i), source(r)))
  }

  /** Weighted categorical draw over (label, weight) pairs. */
  def categorical(items: Seq[(String, Double)]): SplittableRandom => String = {
    val total = items.map(_._2).sum
    val cum = items.scanLeft(0.0)(_ + _._2).tail.map(_ / total).toArray
    val labels = items.map(_._1).toArray
    r => {
      val u = r.nextDouble()
      var i = 0
      while (i < cum.length - 1 && u >= cum(i)) i += 1
      labels(i)
    }
  }

  // ------------------------------------------------------------ corpus

  /** Text corpus with injected near-duplicate groups. Each group has one
    * base text; member m > 0 is the base with exactly `editsPerMember`
    * word substitutions, so any two members differ in at most
    * 2 × editsPerMember words and their word-3-gram Jaccard has a known
    * floor. `groupOf(i)` is the ground truth (-1 = unique document).
    */
  final case class Corpus(ids: Array[Long], texts: Array[String], groupOf: Array[Int])

  def corpus(
      r: SplittableRandom, uniqueDocs: Int, groupSizes: Seq[Int], vocab: Int, zipfS: Double,
      minWords: Int, maxWords: Int, editsPerMember: Int): Corpus = {
    val z = new Zipf(vocab, zipfS, r)
    def word(): String = "w" + Integer.toString(z.next(r), 36)
    def text(): Array[String] = Array.fill(minWords + r.nextInt(maxWords - minWords + 1))(word())
    val texts = Array.newBuilder[String]
    val groups = Array.newBuilder[Int]
    (0 until uniqueDocs).foreach { _ => texts += text().mkString(" "); groups += -1 }
    groupSizes.zipWithIndex.foreach { case (size, g) =>
      val base = text()
      (0 until size).foreach { m =>
        val t = base.clone()
        if (m > 0) (0 until editsPerMember).foreach(_ => t(r.nextInt(t.length)) = word())
        texts += t.mkString(" ")
        groups += g
      }
    }
    val ts = texts.result()
    val gs = groups.result()
    // shuffled arrival; ids are the arrival order
    val order = permutation(ts.length, r)
    Corpus(Array.tabulate(ts.length)(i => i.toLong),
      order.map(ts), order.map(gs))
  }

  /** Unit vectors around the given centres: corpus and queries share the
    * centres, so each query has real neighbours.
    */
  def embeddings(r: SplittableRandom, n: Int, dim: Int, centres: Array[Array[Float]],
      noise: Double): Array[Array[Float]] =
    Array.fill(n) {
      val c = centres(r.nextInt(centres.length))
      val v = Array.tabulate(dim)(d => (c(d) + noise * gaussian(r)).toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / norm).toFloat)
    }

  def centres(r: SplittableRandom, k: Int, dim: Int): Array[Array[Float]] =
    Array.fill(k) {
      val v = Array.fill(dim)(gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
}
