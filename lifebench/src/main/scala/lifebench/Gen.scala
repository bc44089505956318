package lifebench

import java.util.SplittableRandom

/** Seeded input generator. Every input a workload feeds the engine comes
  * from here, so one seed always yields the same inputs. The shapes follow
  * the repository's sf0.1 `documents` table (which the benchmark cannot
  * read from its checkout): documents of 10–100 words drawn from a 31-word
  * vocabulary across 20 sources, replicated with the sfgen word-suffix
  * rule. */
object Gen {

  /** The sf0.1 `documents` vocabulary. */
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  final case class Doc(id: Long, text: String, source: String)

  private def words(rnd: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(Vocab(rnd.nextInt(Vocab.length)))

  /** `n` base documents of 10–100 words each. */
  def baseTexts(rnd: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(words(rnd, 10 + rnd.nextInt(91)).mkString(" "))

  /** The sfgen word-suffix replication rule: replica `rep` ≥ 1 appends
    * `r<rep>` to every word, so replicas share no tokens with the base. */
  def replicaText(text: String, rep: Int): String =
    if (rep == 0) text else text.split(" ").map(w => s"${w}r$rep").mkString(" ")

  /** `base` seeded documents replicated `reps` times (ids shifted by
    * `base` per replica): the ×`reps` scale of the sf0.1 corpus. */
  def corpus(seed: Long, base: Int, reps: Int): Array[Doc] = {
    val texts = baseTexts(new SplittableRandom(seed ^ 0x5eedL), base)
    (for (r <- 0 until reps; i <- 0 until base)
      yield Doc(r.toLong * base + i, replicaText(texts(i), r), s"src${i % 20}")).toArray
  }

  /** Distinct 6-word query texts from the replicated vocabulary (every
    * word of the corpus, suffixes included); `avoid` texts are skipped so
    * warm-up and measured queries never repeat. */
  def queryTexts(rnd: SplittableRandom, n: Int, reps: Int,
                 avoid: Set[String] = Set.empty): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val t = Array.fill(6) {
        replicaText(Vocab(rnd.nextInt(Vocab.length)), rnd.nextInt(reps))
      }.mkString(" ")
      if (!avoid.contains(t)) seen += t
    }
    seen.toArray
  }

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box–Muller on the seeded stream (java.util.Random's nextGaussian is
    // not available on SplittableRandom)
    val u1 = math.max(rnd.nextDouble(), 1e-300)
    val u2 = rnd.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private def normalized(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** A query vector: a stored vector perturbed by Gaussian noise. */
  def perturbed(rnd: SplittableRandom, v: Array[Float], sigma: Double): Array[Float] =
    normalized(v.map(x => x + sigma * gaussian(rnd)))

  /** Replace each word with probability `rate` by a different word of
    * replica `rep`'s vocabulary (at least one word always changes). */
  def editWords(rnd: SplittableRandom, text: String, rate: Double, rep: Int): String = {
    val ws = text.split(" ")
    val forced = rnd.nextInt(ws.length)
    ws.indices.map { i =>
      if (i == forced || rnd.nextDouble() < rate) {
        var w = ws(i)
        while (w == ws(i)) w = replicaText(Vocab(rnd.nextInt(Vocab.length)), rep)
        w
      } else ws(i)
    }.mkString(" ")
  }

  /** One multi-paragraph text file: 3–6 documents of replica `rep`
    * separated by blank lines. */
  def fileText(rnd: SplittableRandom, rep: Int): String =
    baseTexts(rnd, 3 + rnd.nextInt(4)).map(replicaText(_, rep)).mkString("\n\n") + "\n"

  /** Per-paragraph word edits, keeping the paragraph layout. */
  def editFile(rnd: SplittableRandom, text: String, rate: Double, rep: Int): String =
    text.trim.split("\n\n").map(p => editWords(rnd, p, rate, rep)).mkString("\n\n") + "\n"
}
